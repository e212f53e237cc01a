"""Live ingest twin (SURVEY §3.1 "Spark design"): Structured Streaming
over a block feed, one micro-batch = one atomic commit of
rewards (+transactions) + cursor — the distributed analog of the
reference's per-block BEGIN..COMMIT (src/follower.rs:100,
src/block_processor.rs:44-47).

Source here is a file stream of block JSON (the JSON-RPC fetch analog:
each file is a batch of BlockRaw documents, FIXTURES.md §A1). The
transform functions are the SAME ones the batch follower uses
(etl/transforms.py) — foreachBatch hands us a batch DataFrame, so batch
and streaming stay semantically identical by construction.

Exactly-once, two recipes:
- default: checkpoint offsets + IDEMPOTENT sink (per-height-set
  replace + hash dedup) — replay converges. The standard Spark recipe.
- config.atomic: checkpoint offsets + TRANSACTIONAL sink — each
  micro-batch is one snapshot-manifest swap landing data and cursor
  together (etl/snapshot.py), the foreachBatch analog of writing to
  Delta with txnAppId/txnVersion.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.pipeline import CursorStore, FollowerConfig, read_cursor, write_block_range_idempotent
from ..etl.schemas import BLOCK_SCHEMA
from ..etl.transforms import build_outputs


def start_block_stream(
    spark: SparkSession,
    blocks_dir: str,
    txns: DataFrame,
    config: FollowerConfig,
    filters: DataFrame | None = None,
    trigger_once: bool = True,
):
    """Start the streaming query; returns the StreamingQuery.

    trigger_once=True drains everything available then stops (the
    testable form); in production use a processingTime trigger — the
    reference's 10 s tick (src/main.rs:55) maps to
    trigger(processingTime='10 seconds').
    """
    def process_batch(batch_blocks: DataFrame, batch_id: int) -> None:
        if batch_blocks.isEmpty():
            return
        # Re-reading the micro-batch more than once (bounds agg + two
        # writes + the replace-set) must see one consistent snapshot.
        batch_blocks = batch_blocks.localCheckpoint(eager=True)
        out = build_outputs(config.mode, batch_blocks, txns, filters)
        bounds = batch_blocks.agg(
            F.min("height").alias("lo"), F.max("height").alias("hi")
        ).collect()[0]
        lo, tip = bounds["lo"], bounds["hi"]
        # The file stream gives NO contiguity guarantee (files are
        # grouped by listing order): a batch holding heights {100, 300}
        # must replace exactly those heights, not the whole [100, 300]
        # span — a span-delete would wipe blocks another batch already
        # committed. So the idempotent write replaces per height SET.
        heights = batch_blocks.select(F.col("height").alias("block"))
        # first_block = the first block actually processed (the batch
        # MIN on the first batch — reference src/follower.rs:35-39),
        # never the tip. The cursor only moves forward — a replayed old
        # batch re-lands its data but cannot regress the height.
        prev = read_cursor(config.out_dir, config.atomic)
        first_block = prev[1] if prev else lo
        height = max(tip, prev[0]) if prev else tip
        if config.atomic:
            # Exactly-once via transaction instead of idempotence: the
            # checkpoint replays a failed micro-batch, and the snapshot
            # sink makes the replayed commit a single manifest swap that
            # lands data + cursor together (etl/snapshot.py).
            from ..etl.snapshot import commit_batch_atomic

            tables = {"rewards": out["rewards"]}
            if "transactions" in out:
                tables["transactions"] = out["transactions"].dropDuplicates(["hash"])
            commit_batch_atomic(
                spark,
                config.out_dir,
                tables,
                lo,
                tip,
                height=height,
                first_block=first_block,
                range_size=config.block_range_size,
                heights=heights,
            )
            return
        write_block_range_idempotent(
            spark,
            out["rewards"],
            os.path.join(config.out_dir, "rewards"),
            lo,
            tip,
            config.block_range_size,
            heights=heights,
        )
        if "transactions" in out:
            write_block_range_idempotent(
                spark,
                out["transactions"].dropDuplicates(["hash"]),
                os.path.join(config.out_dir, "transactions"),
                lo,
                tip,
                config.block_range_size,
                heights=heights,
            )
        # cursor bump after data is durable (E18)
        if prev is None or tip > prev[0]:
            CursorStore(config.out_dir).write(height, first_block)

    stream = (
        spark.readStream.schema(BLOCK_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(blocks_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(config.out_dir, "_checkpoint"))
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="10 seconds")
    return writer.start()
