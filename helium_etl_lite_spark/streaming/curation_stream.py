"""Incremental curation as a change-feed consumer: the following twin
of pipeline_incremental_curation (queries/curation.py) — catch up with
a snapshot table's change feed (streaming/mirror.py follow_changes),
curate each batch (gopher gate -> exact dedup against everything
curated so far -> publish), survive kill/restart without
double-landing or losing a batch. The batch loop runs the same apply,
curate_changes_batch, over read_changes feeds.

Exactly-once: the curated rows and the dedup state are two tables of
ONE batch-id store (etl/snapshot.py) — `curated` (doc_id, lang) and
the state table (text_hash) that operators/dedup.py dedup_filter_new
probes — so one commit publishes the data, the dedup state and the
batch id (the source version applied, the manifest's cursor) together,
and a replayed batch (the same source version) skips wholesale.
Both tables are APPEND-ONLY: each row carries its batch id in the
`block` column the store keys on, so an apply appends one fragment per
table holding only the batch's fresh rows and reads nothing back;
the fold and retention are commit_batch's.

Probe shape at scale: dedup_filter_new's — the state never shuffles:
the batch's distinct hash fingerprints broadcast into a semi-join
against the state, then the bounded candidate set anti-joins the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..etl.snapshot import STATE, commit_batch, is_applied

CURATED = "curated"


def curate_changes_batch(batch_df: DataFrame, batch_id: int, curated_dir: str) -> bool:
    """Idempotently curate one change-feed batch into the curated
    store. Returns False on replay (batch_id already published) or an
    empty/no-op batch. An apply appends only the batch's FRESH rows."""
    if is_applied(curated_dir, batch_id) or batch_df.isEmpty():
        return False
    spark = batch_df.sparkSession
    # lazy imports: queries.* registers against the registry at import
    # time; streaming modules must not force that at their own import.
    from ..operators.dedup import dedup_filter_new
    from ..queries.curation import gopher_keep_condition

    gated = (
        batch_df.where(F.col("_change_type") == "insert")
        .select("doc_id", "lang", "text")
        .where(gopher_keep_condition())
    )
    # in-batch duplicates collapse to the min-id keeper; checkpointed
    # because the emptiness check and both table writes read it
    fresh = dedup_filter_new(spark, gated, curated_dir).localCheckpoint(eager=True)
    if fresh.isEmpty():
        # content no-op (everything gated out or already curated):
        # publish no data (mirror.py's empty-batch contract);
        # follow_changes moves the cursor alone.
        return False
    block = F.lit(batch_id).cast("long")
    commit_batch(
        spark, curated_dir,
        {
            CURATED: fresh.select("doc_id", "lang").withColumn("block", block),
            STATE: fresh.select("text_hash").withColumn("block", block),
        },
        batch_id, batch_id, batch_id,
    )
    return True


# ---------------------------------------------------------------------------
# Substring dedup — the anchored-span ingest loop as a consumer of the
# snapshot change feed.


def substring_changes_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> bool:
    """Idempotently fold one change-feed batch through the
    substring-dedup ingest loop into a batch-id store with two tables:
    `data` (the deduped documents) and the span-hash state that
    operators/dedup.py substring_anchor_dedup_incremental probes. One
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
        substring_anchor_dedup_incremental,
    )

    docs = batch_df.where(F.col("_change_type") == "insert").select(
        "doc_id", "text"
    )
    if docs.isEmpty():
        return False
    deduped = substring_anchor_dedup_incremental(spark, docs, out_dir)
    batch_spans = anchored_span_table(docs).select("h").distinct()
    block = F.lit(batch_id).cast("long")
    commit_batch(
        spark, out_dir,
        {
            "data": deduped.withColumn("block", block),
            STATE: batch_spans.withColumn("block", block),
        },
        batch_id, batch_id, batch_id,
    )
    return True
