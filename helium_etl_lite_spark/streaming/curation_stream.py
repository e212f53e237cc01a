"""Streaming incremental curation: the STREAMING twin of
pipeline_incremental_curation (queries/curation.py) — subscribe to a
snapshot table's change feed, curate each microbatch (gopher gate ->
exact dedup against everything curated so far -> publish), survive
kill/restart without double-landing or losing a batch.

Exactly-once differs from the batch loop in one important way: the
batch loop's dedup state and curated sink are two separate stores, so
a crash between the two writes needs the state's set-semantics to
swallow the replay. Here the curated store IS the state — each
version carries (doc_id, lang, text_hash), so one atomic pointer flip
publishes the data AND the dedup state together, and a replayed batch
(stable batch_id, the standard foreachBatch recipe) skips wholesale.
The pointer/versioning machinery is mirror.py's, and since the store
is APPEND-ONLY its deltas are simply the batch's fresh rows (r10
verdict item 2): an ordinary commit writes and fsyncs O(batch);
readers union the chain; compaction every COMPACT_EVERY commits
rewrites one full base so chains stay bounded and retention reclaims.

Probe shape at scale: the curated store never shuffles — the batch's
distinct hash fingerprints broadcast into a semi-join against the
store (operators/dedup.py dedup_filter_new's two-step, restated over
the store's hash column), then the bounded candidate set anti-joins
the batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .mirror import (
    COMPACT_EVERY,
    commit_batch_version,
    compose_version,
    mirror_version,
    read_mirror,
)

CURATED_COLS = ["doc_id", "lang", "text_hash"]


def curate_changes_batch(
    batch_df: DataFrame,
    batch_id: int,
    curated_dir: str,
    keep: int = 2,
    compact_every: int = COMPACT_EVERY,
) -> bool:
    """Idempotently curate one change-feed microbatch into the
    versioned curated store. Returns False on replay (batch_id already
    published) or an empty/no-op batch. Ordinary commits append only
    the batch's FRESH rows as a delta; every compact_every-th commit
    rewrites the full base."""
    done = mirror_version(curated_dir)
    if done is not None and done >= batch_id:
        return False
    if batch_df.isEmpty():
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
    prev = read_mirror(spark, curated_dir)
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
    commit_batch_version(
        curated_dir, batch_id, done, "append",
        write_delta=lambda vdir: fresh.write.mode("overwrite").parquet(vdir),
        write_base=lambda vdir: (
            prev.unionByName(fresh) if prev is not None else fresh
        ).write.mode("overwrite").parquet(vdir),
        keep=keep, compact_every=compact_every,
    )
    return True


def start_curation_stream(
    spark: SparkSession,
    root: str,
    table: str,
    curated_dir: str,
    checkpoint_dir: str,
):
    """Subscribe the curation loop to a snapshot table's change feed
    (one microbatch per snapshot-version delta; the query drains the
    pending commits, then stops — restartable from the checkpoint)."""
    from ..sources.python_datasource import register_snapshot_changes

    register_snapshot_changes(spark)
    os.makedirs(curated_dir, exist_ok=True)
    feed = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("table", table)
        .load()
    )
    writer = feed.writeStream.foreachBatch(
        lambda df, bid: curate_changes_batch(df, bid, curated_dir)
    ).option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


# ---------------------------------------------------------------------------
# Streaming substring dedup — the anchored-span ingest loop as a TRUE
# Structured Streaming consumer of the snapshot change feed.


def _substring_version_part(spark: SparkSession, out_dir: str, part: str):
    """Read one part (data | spans) of the current published version —
    the chain composed lazily — or None before the first publish."""
    done = mirror_version(out_dir)
    if done is None:
        return None
    return compose_version(spark, out_dir, done, part=part)


def substring_changes_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    keep: int = 2,
    compact_every: int = COMPACT_EVERY,
) -> bool:
    """Idempotently fold one change-feed microbatch through the
    substring-dedup ingest loop into a versioned store. Each published
    version carries the cumulative deduped DATA **and** the cumulative
    span-hash SET behind one atomically-flipped pointer — the same
    no-split-store discipline as the curation loop: a replayed
    batch_id skips wholesale (pointer check), and a crash between the
    data write and the pointer leaves the previous version fully
    intact, spans included, so the replay re-derives the identical
    result.

    Both parts are APPEND-ONLY, so ordinary commits are deltas holding
    only the batch's own deduped rows and span hashes (r10 verdict
    item 2 — O(batch) write+fsync per commit; the old layout rewrote
    the full cumulative corpus+state every microbatch). Span hashes
    may repeat across deltas (a batch can re-emit a hash an earlier
    batch owns); that is harmless — the span set is only ever PROBED
    via semi-joins with distinct on the hit side — and compaction
    distincts them into the next base."""
    done = mirror_version(out_dir)
    if done is not None and done >= batch_id:
        return False
    if batch_df.isEmpty():
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
    prev_spans = _substring_version_part(spark, out_dir, "spans")
    deduped = substring_anchor_dedup_incremental_df(docs, prev_spans)
    batch_spans = anchored_span_table(docs).select("h").distinct()

    def _write_parts(vdir: str, data, spans) -> None:
        data.write.mode("overwrite").parquet(os.path.join(vdir, "data"))
        spans.write.mode("overwrite").parquet(os.path.join(vdir, "spans"))

    def write_base(vdir: str) -> None:
        prev_data = _substring_version_part(spark, out_dir, "data")
        _write_parts(
            vdir,
            prev_data.unionByName(deduped) if prev_data is not None else deduped,
            prev_spans.select("h").unionByName(batch_spans).distinct()
            if prev_spans is not None
            else batch_spans,
        )

    commit_batch_version(
        out_dir, batch_id, done, "append",
        write_delta=lambda vdir: _write_parts(vdir, deduped, batch_spans),
        write_base=write_base,
        keep=keep, compact_every=compact_every,
    )
    return True


def start_substring_dedup_stream(
    spark: SparkSession,
    root: str,
    table: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Subscribe the substring-dedup ingest loop to a snapshot table's
    change feed (one microbatch per snapshot-version delta; the query
    drains the pending commits, then stops — restartable from the
    checkpoint)."""
    from ..sources.python_datasource import register_snapshot_changes

    register_snapshot_changes(spark)
    os.makedirs(out_dir, exist_ok=True)
    feed = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("table", table)
        .load()
    )
    writer = feed.writeStream.foreachBatch(
        lambda df, bid: substring_changes_batch(df, bid, out_dir)
    ).option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()
