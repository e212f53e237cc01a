"""Streaming COUNT-STATISTICS ingest: a file stream of document
batches folds each micro-batch's DSIR bucket-count delta into the
persisted additive-count state (operators/count_state.py) — the
streaming twin of the text_dsir_importance_incremental batch loop, and
the third state class to get a TRUE-STREAMING ingest (after the
set-semantics dedup states and the CDC-fed curation loop): a
continuously-crawling pipeline keeps its importance-weighting
statistics current without ever re-scanning the landed corpus.

Per micro-batch (foreachBatch): hash the batch's unigram+bigram
features through the shared 16-bit bucket, ONE bucket agg for the
(c_raw, c_tgt) delta, then count_state_add under the STREAM'S OWN
batch_id.

Exactly-once: a failed micro-batch REPLAYS under the SAME batch_id,
which the count state's cursor (etl/snapshot.py commit_state) skips.
This is load-bearing here in a way it is not for a set state: integer
counts cannot survive a replayed append (double-count). Restarting the
stream from its checkpoint continues the batch_id sequence, so a
kill/catch-up cycle folds each delta exactly once.

Scale posture: each batch tokenized once, delta bounded at 65536 rows
by the bucket space (one small fragment per batch), state never read on
the write path — O(batch) per micro-batch, independent of corpus and
state size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DOC_SCHEMA = "doc_id long, lang string, text string"


def start_dsir_count_stream(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
):
    """Start the stream; returns the StreamingQuery, which drains the
    files present, then stops (an availableNow trigger); a later call
    resumes from the checkpoint. Bucket-count state lands under
    `{out_dir}/dsir_state` (read it back with operators/dsir.py
    dsir_state_counts)."""
    from ..operators.count_state import count_state_add

    state_path = os.path.join(out_dir, "dsir_state")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # call-time import: queries.curation imports streaming modules
        # inside its own function bodies, so a module-level import here
        # would be a cycle
        from ..queries.curation import _dsir_bucket_counts, _dsir_feats

        counts = _dsir_bucket_counts(_dsir_feats(batch))
        count_state_add(
            spark, counts, state_path, batch_id,
            key_cols=["b"], count_cols=["c_raw", "c_tgt"],
        )

    reader = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(docs_dir)
    )
    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
    )
    return writer.trigger(availableNow=True).start()
