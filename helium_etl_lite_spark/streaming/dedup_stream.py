"""Streaming URL-recrawl collapse over a file stream of (doc_id, url)
batches (start_url_dedup_stream), and the read view of the corpus it
lands (url_corpus).

The stream's out_dir is one batch-id store (etl/snapshot.py) with two
tables: `corpus` (the landed doc_id, canonical_url rows) and the
canonical-hash state that operators/dedup.py dedup_filter_new probes.
One commit publishes a micro-batch's corpus rows, their hashes and the
batch id together, so a replayed micro-batch is skipped whole and the
corpus never holds a row twice.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..etl.snapshot import STATE, commit_batch, is_applied, read_snapshot

URL_SCHEMA = "doc_id long, url string"

CORPUS = "corpus"


def url_corpus(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The landed recrawl-free URL corpus (None before the first
    micro-batch)."""
    return read_snapshot(spark, out_dir, CORPUS)


def start_url_dedup_stream(
    spark: SparkSession,
    urls_dir: str,
    out_dir: str,
):
    """Streaming URL-recrawl collapse — the foreachBatch twin of
    url_dedup_canonical_incremental (r13), the loop a continuous
    crawler runs: each micro-batch of (doc_id, url) canonicalizes
    ROW-LOCALLY (operators/url.py — zero Exchange), collapses in-batch
    recrawls to the min-id keeper, probes the persisted canonical-hash
    state via dedup_filter_new's broadcast fingerprint semi-join with
    ``normalize=False`` (canonical paths are case-SENSITIVE — the
    lower(trim()) default would merge /Page and /page), then commits the
    survivors and their hashes in one version (O(batch) appended rows).

    Exactly-once: the checkpoint replays a failed micro-batch under the
    same batch id, which the store's cursor skips; no per-batch
    landed-corpus scan is needed (r13 ADVICE). The query drains the
    files present, then stops (an availableNow trigger); a later call
    resumes from the checkpoint, kept under `{out_dir}/_checkpoint`."""
    from pyspark.sql import functions as F

    from ..operators.dedup import dedup_filter_new
    from ..operators.url import canonical_url

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if is_applied(out_dir, batch_id) or batch.isEmpty():
            return
        b = batch.select(
            "doc_id", canonical_url(F.col("url")).alias("canonical_url")
        ).localCheckpoint(eager=True)
        fresh = dedup_filter_new(
            spark, b, out_dir, text_col="canonical_url", normalize=False
        ).localCheckpoint(eager=True)
        block = F.lit(batch_id).cast("long")
        commit_batch(
            spark, out_dir,
            {
                CORPUS: fresh.select("doc_id", "canonical_url").withColumn("block", block),
                STATE: fresh.select("text_hash").withColumn("block", block),
            },
            batch_id, batch_id, batch_id,
        )

    reader = (
        spark.readStream.schema(URL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(urls_dir)
    )
    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
    )
    return writer.trigger(availableNow=True).start()
