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

Exactly-once: checkpoint offsets + TRANSACTIONAL sink — each
micro-batch is one snapshot-manifest swap landing data and cursor
together (etl/snapshot.py), the foreachBatch analog of writing to
Delta with txnAppId/txnVersion. A replayed micro-batch re-commits the
same height set, so the result converges.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.pipeline import CursorStore, FollowerConfig, _refuse_plain_layout
from ..etl.schemas import BLOCK_SCHEMA
from ..etl.snapshot import commit_batch_atomic
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
        # Re-reading the micro-batch more than once (bounds agg, the
        # commit and its replace-set) must see one consistent snapshot.
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
        # committed. So the commit claims the height SET.
        heights = batch_blocks.select(F.col("height").alias("block"))
        # first_block = the first block actually processed (the batch
        # MIN on the first batch — reference src/follower.rs:35-39),
        # never the tip. The cursor only moves forward — a replayed old
        # batch re-lands its data but cannot regress the height.
        prev = CursorStore(config.out_dir).read()
        if prev is None:
            _refuse_plain_layout(config.out_dir)
        first_block = prev[1] if prev else lo
        height = max(tip, prev[0]) if prev else tip
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
