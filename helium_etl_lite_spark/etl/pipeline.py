"""Batch-incremental follower: the reference's poll/catch-up/commit loop
(SURVEY §2.1 E16-E20) on Spark.

Differences by design (Spark-first, not a translation):
- The reference processes ONE block per transaction
  (src/follower.rs:99-112). Here a catch-up pass processes the whole
  (cursor, tip] range as ONE distributed job — partition pruning on the
  height predicate keeps it incremental, executors give parallelism.
- Exactly-once: Postgres gives the reference a data+cursor transaction
  (src/follower.rs:100, src/block_processor.rs:44-47). On a filesystem
  sink we get the same end-to-end guarantee from idempotence + ordering:
  data writes are keyed/deduped (rewards partitioned by block range,
  overwritten per-range; transactions deduped on hash, PK analog of
  migrations/V3:43), and the cursor is committed only AFTER data lands.
  A crash between data and cursor replays the range — idempotent, so
  the result converges. On Delta/Iceberg the same code path becomes a
  single multi-table transaction.
- The cursor (the reference's one follower_info row) is one JSON record
  published with one durable rename (CursorStore) — no Spark job, and
  no instant at which it is missing. read_cursor() answers "where is
  the follower" for either sink, the one the config selects.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import REWARDS_V2_FIELDS_SCHEMA
from .snapshot import SnapshotStore, commit_batch_atomic, durable_replace
from .transforms import build_outputs

# Output tables are partitioned by block: dynamic partition overwrite
# then gives per-block replace semantics — the exact analog of the
# reference's per-block BEGIN..COMMIT atomicity (any replayed range
# replaces precisely the blocks it contains, never duplicating and
# never clobbering neighbors). At 100 TB with small blocks, coarsen to
# block ranges ONLY if batch boundaries are aligned to range boundaries
# (the replay unit must cover whole partitions), or use a Delta/Iceberg
# MERGE keyed on (block, hash) instead.


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
    parquet — a transactional table format (Delta/Iceberg) upgrades that
    without changing this dataflow; until then bound_by_cursor() below
    gives readers the cursor-bounded consistent view.

    What counts as "claimed" matters for correctness:
    - heights=None: the batch claims the contiguous span [lo, hi] — old
      rows inside the span are dropped. ONLY valid when the batch really
      contains every block of the span (the batch follower's
      `where(height between lo, hi)` does).
    - heights=<DataFrame of block heights>: the batch claims exactly
      that height SET — old rows are anti-joined against it. Required
      for micro-batches with no contiguity guarantee (a file-stream
      batch holding heights {100, 300} must not delete blocks 101-299
      that a previous batch landed).
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
    except AnalysisException:
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


def bound_by_cursor(
    df: DataFrame, cursor: tuple[int, int] | None, range_size: int = 1000
) -> DataFrame:
    """The consistent-read view: `df`'s rows at or below `cursor`'s
    height; no rows when there is no cursor.

    Data lands BEFORE the cursor advances, so between the two writes a
    raw reader could observe blocks beyond the cursor (the reference's
    Postgres transaction hides that window). Filtering by the cursor
    restores the reference's visibility rule — readers never see a
    block the follower hasn't committed — and the predicate prunes
    `block_range` partitions, so it costs a metadata lookup, not a scan.
    A caller serving several tables reads the cursor once and bounds
    every table with it, so no commit landing in between can give the
    tables different heights.
    """
    if cursor is None:
        return df.where(F.lit(False))
    height = cursor[0]
    return df.where(F.col("block_range") <= height // range_size).where(
        F.col("block") <= height
    )


class CursorStore:
    """follower_info analog (reference migrations/V2, src/follower.rs:115-142):
    the plain sink's single (height, first_block) row, kept as one JSON
    record at `<out_dir>/_meta/follower_info.json`. Reading and writing
    it start no Spark job.

    write() publishes through snapshot.durable_replace (tmp file, fsync,
    os.replace, directory fsync), so at every instant the record holds a
    complete cursor, old or new, and survives a power cut once write()
    returns. A crash before the rename leaves a stale `.tmp` beside the
    previous cursor; the next write() overwrites it. (On an object
    store, swap the rename for a conditional PUT of the record.)
    """

    def __init__(self, out_dir: str):
        self.path = os.path.join(out_dir, "_meta", "follower_info.json")

    def read(self) -> tuple[int, int] | None:
        try:
            with open(self.path) as f:
                rec = json.load(f)
        except FileNotFoundError:
            return None
        return rec["height"], rec["first_block"]

    def write(self, height: int, first_block: int) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        durable_replace(
            self.path,
            json.dumps({"height": int(height), "first_block": int(first_block)}),
        )


def read_cursor(out_dir: str, atomic: bool) -> tuple[int, int] | None:
    """The committed (height, first_block) of the sink `atomic` selects:
    the snapshot manifest's cursor (atomic) or CursorStore's (plain),
    never the other sink's, so a follower switched to a new sink on an
    old store starts that sink afresh instead of continuing from a
    cursor whose data the new sink does not hold. None when that sink
    has no cursor yet."""
    if atomic:
        m = SnapshotStore(out_dir).current()
        return None if m is None else (m["height"], m["first_block"])
    return CursorStore(out_dir).read()


def _recover_from_output(spark: SparkSession, out_dir: str) -> tuple[int, int] | None:
    """(max, min) landed block of a plain store's rewards table; None
    when nothing landed."""
    try:
        landed = spark.read.parquet(os.path.join(out_dir, "rewards"))
        row = landed.agg(F.max("block").alias("mx"), F.min("block").alias("mn")).collect()[0]
    except Exception:
        return None
    if row["mx"] is None:
        return None
    return int(row["mx"]), int(row["mn"])


def _open_cursor(spark: SparkSession, config: FollowerConfig, probe_first) -> tuple[int, int]:
    """The follower's starting cursor (reference src/follower.rs:27-41):
    the configured sink's committed cursor; else, on the plain sink,
    the one recovered from landed data; else a new cursor at
    probe_first()-1, so the first processed block is probe_first()
    (reference src/follower.rs:37).

    Recovery covers a lost cursor over landed data (a store written
    before the JSON cursor record, or a deleted _meta): re-seeding at
    tip instead would silently skip every block between the lost cursor
    and the tip. Re-deriving can only UNDER-estimate (filters mode drops
    rewardless blocks), and replay of those blocks is idempotent. The
    atomic sink has no such path: unpublished data is invisible by
    construction, so the manifest IS the only truth."""
    cur = read_cursor(config.out_dir, config.atomic)
    if cur is not None:
        return cur
    if not config.atomic:
        cur = _recover_from_output(spark, config.out_dir)
        if cur is not None:
            CursorStore(config.out_dir).write(*cur)
            return cur
    first = probe_first()
    if config.atomic:
        SnapshotStore(config.out_dir).publish(
            {"version": 1, "height": first - 1, "first_block": first, "tables": {}}
        )
    else:
        CursorStore(config.out_dir).write(first - 1, first)
    return first - 1, first


@dataclass
class FollowerConfig:
    """settings.toml analog (reference src/settings.rs:33-48)."""

    mode: str = "rewards"          # rewards | full | filters
    backfill: bool = False
    out_dir: str = "/tmp/helium_out"
    max_blocks_per_batch: int | None = None  # None = whole lag in one job
    block_range_size: int = 1000   # blocks per output partition directory
    # True = snapshot-manifest sink (etl/snapshot.py): data + cursor
    # publish in ONE atomic rename, the reference's BEGIN..COMMIT
    # (src/follower.rs:100) made literal instead of approximated by
    # write-ordering + idempotent replay.
    atomic: bool = False


class IncrementalFollower:
    """E17-E19: cursor init, catch-up loop, cursor advance."""

    def __init__(
        self,
        spark: SparkSession,
        blocks: DataFrame,
        txns: DataFrame,
        config: FollowerConfig,
        filters: DataFrame | None = None,
    ):
        from .transforms import MODES

        if config.mode not in MODES:
            raise ValueError(f"unknown mode {config.mode!r}; expected one of {MODES}")
        if config.mode == "filters" and filters is None:
            raise ValueError("filters mode requires the filters table")
        self.spark = spark
        self.blocks = blocks
        self.txns = txns
        self.config = config
        self.filters = filters
        self.cursor = CursorStore(config.out_dir)

    # -- cursor init (reference src/follower.rs:27-41) ------------------
    def init_cursor(self) -> tuple[int, int]:
        def first() -> int:
            if self.config.backfill:
                return get_first_block(self.spark, self.blocks, self.txns)
            return self._tip()

        return _open_cursor(self.spark, self.config, first)

    def _tip(self) -> int:
        # E1: chain-tip probe (reference src/follower.rs:76).
        return self.blocks.agg(F.max("height")).collect()[0][0]

    # -- one catch-up pass (reference src/follower.rs:69-98) ------------
    def run_once(self) -> int:
        """Process (cursor, tip] and return the number of blocks loaded."""
        height, first_block = self.init_cursor()
        tip = self._tip()
        if tip is None or tip <= height:
            return 0
        upper = tip
        if self.config.max_blocks_per_batch is not None:
            upper = min(tip, height + self.config.max_blocks_per_batch)
        if self.config.atomic:
            self._commit_range_atomic(height + 1, upper, first_block)
        else:
            self._process_range(height + 1, upper)
            # cursor advances only after data is durable (E18; the
            # ordering that substitutes for the reference's
            # BEGIN..COMMIT).
            self.cursor.write(upper, first_block)
        return upper - height

    def catch_up(self) -> int:
        """Loop run_once until at tip (bounded-replay E19)."""
        total = 0
        while True:
            n = self.run_once()
            if n == 0:
                return total
            total += n

    def _commit_range_atomic(self, lo: int, hi: int, first_block: int) -> None:
        # E14-E18 as ONE transaction: every output table and the cursor
        # advance publish together in the manifest swap.
        blocks = self.blocks.where(F.col("height").between(lo, hi))
        out = build_outputs(self.config.mode, blocks, self.txns, self.filters)
        tables = {"rewards": out["rewards"]}
        if "transactions" in out:
            tables["transactions"] = out["transactions"].dropDuplicates(["hash"])
        commit_batch_atomic(
            self.spark,
            self.config.out_dir,
            tables,
            lo,
            hi,
            height=hi,
            first_block=first_block,
            range_size=self.config.block_range_size,
        )

    def _process_range(self, lo: int, hi: int) -> None:
        # Incremental slice: the height predicate prunes partitions at
        # the source (src/follower.rs:86's `h > self.height`, vectorized).
        blocks = self.blocks.where(F.col("height").between(lo, hi))
        out = build_outputs(self.config.mode, blocks, self.txns, self.filters)

        write_block_range_idempotent(
            self.spark,
            out["rewards"],
            os.path.join(self.config.out_dir, "rewards"),
            lo,
            hi,
            self.config.block_range_size,
        )

        # Ingest audit: row/amount/sentinel counters for the landed
        # range (the reference has no ingest metrics at all; production
        # followers need them to spot a silently-empty or all-null
        # upstream). Computed from the JUST-WRITTEN parquet slice — one
        # cheap columnar scan with the block predicate pushed — instead
        # of re-running the whole batch build a second time (an agg on
        # out["rewards"] would re-execute explode/validate/join per
        # range, ~2x ingest cost). NOT the Observation API: the recovery
        # paths here deliberately run failing probe reads, and a pending
        # Observation's listener asserts on ANY failed query in the
        # session, taking the whole batch down with it.
        from .schemas import SENTINEL

        try:
            landed = (
                self.spark.read.parquet(os.path.join(self.config.out_dir, "rewards"))
                .where(F.col("block").between(lo, hi))
            )
            audit = landed.agg(
                F.count(F.lit(1)).alias("n_rewards"),
                F.coalesce(F.sum("amount"), F.lit(0)).alias("amount_total"),
                F.coalesce(
                    F.sum(F.when(F.col("account") == SENTINEL, 1).otherwise(0)),
                    F.lit(0),
                ).alias("sentinel_accounts"),
            ).first()
            self.last_audit = audit.asDict()
        except AnalysisException as e:
            # ONLY the missing-path case is a legitimate zero: a batch
            # with zero reward rows writes no directory at all on the
            # very first range — that IS the signal the audit exists to
            # surface, as an explicit zero. Any other failure (corrupt
            # footer, permission error, transient IO) must surface as
            # an audit FAILURE, not be masked as zeros (r6 ADVICE).
            from ..errors import is_path_not_found

            if is_path_not_found(e):
                self.last_audit = {
                    "n_rewards": 0, "amount_total": 0, "sentinel_accounts": 0,
                }
            else:
                self.last_audit = {"error": str(e)}
        except Exception as e:  # noqa: BLE001 — audit is advisory; ingest continues
            self.last_audit = {"error": str(e)}
        import logging

        logging.getLogger("helium_etl_lite_spark").log(
            logging.WARNING if "error" in self.last_audit else logging.INFO,
            f"audit [{lo},{hi}]: {self.last_audit}",
        )
        if "transactions" in out:
            # PK(hash) idempotence (migrations/V3:43): dedup within the
            # batch before the idempotent range write.
            write_block_range_idempotent(
                self.spark,
                out["transactions"].dropDuplicates(["hash"]),
                os.path.join(self.config.out_dir, "transactions"),
                lo,
                hi,
                self.config.block_range_size,
            )


def rpc_catch_up(
    spark: SparkSession,
    client,
    config: FollowerConfig,
    filters: DataFrame | None = None,
    max_fetch_per_pass: int = 500,
) -> int:
    """Catch up against a live JSON-RPC node (the reference's main loop,
    src/follower.rs:69-98): probe the tip, fetch the lagging range via
    RpcBlockSource, and run the same follower over it. Returns blocks
    loaded. The per-pass fetch bound keeps driver memory flat while
    catching up from far behind."""
    from ..sources.block_source import RpcBlockSource

    height, _first = _open_cursor(
        spark,
        config,
        lambda: rpc_get_first_block(client) if config.backfill else client.height(),
    )
    total = 0
    tip = client.height()
    while tip > height:
        bound = config.max_blocks_per_batch or max_fetch_per_pass
        hi = min(tip, height + bound)
        src = RpcBlockSource(spark, client, height + 1, hi)
        follower = IncrementalFollower(spark, src.blocks(), src.txns(), config, filters=filters)
        n = follower.run_once()
        if n == 0:
            break
        total += n
        height += n
        tip = client.height()  # the chain may have advanced meanwhile
    return total


def rpc_get_first_block(client, max_hops: int = 100_000) -> int:
    """E20 against a live node: the literal backward epoch walk
    (reference src/follower.rs:144-194) — hop rewards_v2.start_epoch
    pointers from the tip; on a fetch failure outside the last epoch,
    re-enter at last_safe-1 and walk block-by-block; on a failure inside
    it, the last safe height is the oldest block the node holds."""
    height = client.height()
    last_safe = height
    in_last_epoch = False
    for _ in range(max_hops):
        try:
            block = client.get_block_raw(height)
        except Exception:
            if in_last_epoch:
                return last_safe  # src/follower.rs:159
            in_last_epoch = True  # src/follower.rs:160-167
            height = last_safe - 1
            if height < 1:
                return last_safe
            continue
        hop = None
        if not in_last_epoch:
            for t in block["transactions"]:
                if t["type"] == "rewards_v2":
                    payload = client.get_transaction(t["hash"])
                    epoch = payload.get("start_epoch")
                    if epoch is not None:
                        hop = epoch if hop is None else min(hop, epoch)
        last_safe = height
        height = hop if hop is not None else height - 1  # src/follower.rs:176,189-190
        if height < 1:
            return last_safe
    return last_safe


def get_first_block(spark: SparkSession, blocks: DataFrame, txns: DataFrame) -> int:
    """E20: backfill boundary discovery (reference src/follower.rs:144-194).

    The reference walks backward block-by-block, hopping whole epochs via
    rewards_v2.start_epoch pointers, because its source only supports
    point lookups. Our source supports aggregation, so the common case is
    one metadata-only query: min(height). The epoch-hop remains available
    as a driver-side loop for sources where old blocks fail to fetch
    (reference :158-167); it issues tiny point queries, exactly like the
    reference, and falls back to the last safe height on a gap.
    """
    row = blocks.agg(F.min("height").alias("mn")).collect()[0]
    return int(row["mn"])


def backfill_epoch_walk(blocks: DataFrame, txns: DataFrame, tip: int, max_hops: int = 1000) -> int:
    """The literal epoch-hop walk (reference src/follower.rs:144-194),
    for parity testing: from `tip`, follow rewards_v2.start_epoch
    pointers backward until a block is missing; return the oldest
    reachable height."""
    payload = txns.select(
        "hash", F.from_json("fields", REWARDS_V2_FIELDS_SCHEMA).alias("f")
    ).select("hash", F.col("f.start_epoch").alias("start_epoch"))
    height = tip
    last_safe = tip
    for _ in range(max_hops):
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
