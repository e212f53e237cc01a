"""Streaming incremental curation: the STREAMING twin of
pipeline_incremental_curation (queries/curation.py) — subscribe to a
snapshot table's change feed, curate each microbatch (gopher gate ->
exact dedup against everything curated so far -> publish), survive
kill/restart without double-landing or losing a batch.

Exactly-once differs from the batch loop in one important way: the
batch loop's dedup state and curated sink are two separate stores, so
a crash between the two writes needs the state's set-semantics to
swallow the replay. Here the curated store IS the state — each row
carries (doc_id, lang, text_hash), so one snapshot commit publishes the
data, the dedup state and the batch id (the manifest's cursor)
together, and a replayed batch (stable batch_id, the standard
foreachBatch recipe) skips wholesale. The store is a snapshot store
written through mirror.py's commit_batch. It is APPEND-ONLY: each row
carries its batch id in the `block` column the store keys on, so an
apply appends one fragment holding only the batch's fresh rows and
reads nothing back; compaction and retention are commit_batch's.

Probe shape at scale: the curated store never shuffles — the batch's
distinct hash fingerprints broadcast into a semi-join against the
store (operators/dedup.py dedup_filter_new's two-step, restated over
the store's hash column), then the bounded candidate set anti-joins
the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..etl.snapshot import read_snapshot
from .mirror import commit_batch, is_applied

CURATED_COLS = ["doc_id", "lang", "text_hash"]
CURATED = "curated"


def curate_changes_batch(batch_df: DataFrame, batch_id: int, curated_dir: str) -> bool:
    """Idempotently curate one change-feed microbatch into the curated
    store (table `curated`). Returns False on replay (batch_id already
    published) or an empty/no-op batch. An apply appends only the
    batch's FRESH rows."""
    if is_applied(curated_dir, batch_id) or batch_df.isEmpty():
        return False
    spark = batch_df.sparkSession
    # lazy import: queries.* registers against the registry at import
    # time; streaming modules must not force that at their own import.
    from ..queries.curation import gopher_keep_condition

    docs = batch_df.where(F.col("_change_type") == "insert").select(
        "doc_id", "lang", "text"
    )
    gated = docs.where(gopher_keep_condition()).withColumn(
        "text_hash", F.sha2(F.lower(F.trim(F.col("text"))), 256)
    )
    # in-batch duplicates collapse to the min-id keeper (same contract
    # as dedup_filter_new); window keys on the high-cardinality hash.
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    batch_first = (
        gated.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*CURATED_COLS)
    )
    prev = read_snapshot(spark, curated_dir, CURATED)
    if prev is not None:
        fps = batch_first.select(
            F.xxhash64("text_hash").alias("__fp")
        ).distinct()
        cand = (
            prev.join(
                F.broadcast(fps),
                F.xxhash64(prev["text_hash"]) == F.col("__fp"),
            )
            .select("text_hash")
            .distinct()
        )
        fresh = batch_first.join(cand, "text_hash", "left_anti")
    else:
        fresh = batch_first
    if fresh.isEmpty():
        # content no-op (everything gated out or already curated):
        # don't publish an identical version — a replay re-derives the
        # same no-op, so skipping keeps the version history meaningful
        # (mirror.py's empty-batch contract).
        return False
    commit_batch(
        spark, curated_dir,
        {CURATED: fresh.withColumn("block", F.lit(batch_id).cast("long"))},
        batch_id, batch_id, batch_id,
    )
    return True


# ---------------------------------------------------------------------------
# Streaming substring dedup — the anchored-span ingest loop as a TRUE
# Structured Streaming consumer of the snapshot change feed.


def substring_changes_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> bool:
    """Idempotently fold one change-feed microbatch through the
    substring-dedup ingest loop into a snapshot store with two tables:
    `data` (the deduped documents) and `spans` (the span-hash SET). One
    commit publishes both and the batch id — the same no-split-store
    discipline as the curation loop: a replayed batch_id skips
    wholesale, and a crash before the commit leaves the previous
    version fully intact, spans included, so the replay re-derives the
    identical result.

    Both tables are APPEND-ONLY: each apply appends one fragment per
    table holding only the batch's own deduped rows and span hashes,
    with the batch id in `block`. Span hashes may repeat across
    fragments (a batch can re-emit a hash an earlier batch owns); that
    is harmless — the span set is only ever PROBED via semi-joins with
    distinct on the hit side."""
    if is_applied(out_dir, batch_id) or batch_df.isEmpty():
        return False
    spark = batch_df.sparkSession
    from ..operators.dedup import (
        anchored_span_table,
        substring_anchor_dedup_incremental_df,
    )

    docs = batch_df.where(F.col("_change_type") == "insert").select(
        "doc_id", "text"
    )
    if docs.isEmpty():
        return False
    deduped = substring_anchor_dedup_incremental_df(
        docs, read_snapshot(spark, out_dir, "spans")
    )
    batch_spans = anchored_span_table(docs).select("h").distinct()
    block = F.lit(batch_id).cast("long")
    commit_batch(
        spark, out_dir,
        {
            "data": deduped.withColumn("block", block),
            "spans": batch_spans.withColumn("block", block),
        },
        batch_id, batch_id, batch_id,
    )
    return True
