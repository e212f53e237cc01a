"""Streaming URL-recrawl collapse over a file stream of (doc_id, url)
batches (start_url_dedup_stream), and the read view of the corpus it
lands (url_corpus).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

URL_SCHEMA = "doc_id long, url string"


def url_corpus(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The landed recrawl-free URL corpus (doc_id-deduped read view: a
    replayed micro-batch may have appended twice; first-writer wins and
    both writers carry identical rows)."""
    path = os.path.join(out_dir, "corpus")
    try:
        return spark.read.parquet(path).dropDuplicates(["doc_id"])
    except AnalysisException as exc:
        # only not-yet-created is "no corpus"; corrupt files must raise
        from ..errors import is_path_not_found

        if is_path_not_found(exc):
            return None
        raise


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
    lower(trim()) default would merge /Page and /page), lands the
    survivors (data BEFORE state, the cursor-after-data discipline),
    then folds their hashes into the sharded state (O(batch) append,
    replay-idempotent set semantics).

    Exactly-once: the checkpoint replays a failed micro-batch. A replayed
    micro-batch re-appends identical rows that the doc_id-deduped read
    view collapses, the state fold-in is a set union, and a post-fold
    replay probes its own hashes out of state into a no-op; no
    per-batch landed-corpus scan is needed (r13 ADVICE). The query
    drains the files present, then stops (an availableNow trigger); a
    later call resumes from the checkpoint. Corpus lands under
    `{out_dir}/corpus`, hash state under `{out_dir}/url_state`."""
    from pyspark.sql import functions as F

    from ..operators.dedup import dedup_filter_new, dedup_state_add
    from ..operators.url import canonical_url

    corpus_path = os.path.join(out_dir, "corpus")
    state_path = os.path.join(out_dir, "url_state")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        b = batch.select(
            "doc_id", canonical_url(F.col("url")).alias("canonical_url")
        ).localCheckpoint(eager=True)
        fresh = dedup_filter_new(
            spark, b, state_path, text_col="canonical_url", normalize=False
        ).localCheckpoint(eager=True)
        fresh.select("doc_id", "canonical_url").write.mode("append").parquet(
            corpus_path
        )
        dedup_state_add(spark, fresh, state_path)

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
