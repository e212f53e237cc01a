"""Streaming CDC consumer: maintain a downstream MIRROR of a snapshot
table from its change feed, and the subscription every change-feed
consumer shares (the curation consumers in curation_stream.py use it
too).

The batch query `sink_snapshot_changes_apply` proves v1 + feed == v2;
this is the same contract in streaming form: a foreachBatch consumer
subscribes to the `snapshot_changes` source (sources/python_datasource.py
— the snapshot version IS the offset), applies each microbatch's
inserts/deletes to a local mirror, and survives kill/restart without
double-applying.

Every consumer store is a batch-id store (etl/snapshot.py), written
through commit_batch: block-range fragments, a manifest, one durable
CURRENT swap. The manifest's cursor (`height`) holds the last applied
batch id, so the data and the batch id publish in one rename.
Structured Streaming replays at-least-once with a STABLE batch_id, so a
batch id at or below the cursor is a replay and is skipped; an empty
batch publishes nothing.

The mirror's claim is the batch's blocks (both applies key on `block`):
- the keyed apply replaces every claimed block with the batch's
  insert/postimage rows, and reads nothing itself;
- the multiset apply reads the mirror's fragments whose span meets the
  claim, in the block ranges it touches, and writes
  `old.exceptAll(deletes) ∪ inserts` for the claimed blocks.
commit_batch_atomic keeps every other fragment as it is: a batch of new
blocks above every fragment (a follower's change feed) appends only its
own rows, and a batch that rewrites old blocks rewrites the fragments
it overlaps.

After each apply the store stays bounded: commit_batch compacts a block
range holding more than COMPACT_EVERY fragments, and vacuum keeps the
fragments of the two newest versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.snapshot import (
    RANGE_SIZE,
    SnapshotStore,
    _read_fragments,
    commit_batch,
    fragments,
    is_applied,
    read_snapshot,
)

TABLE = "mirror"


def read_mirror(spark: SparkSession, mirror_dir: str) -> DataFrame | None:
    """The committed mirror contents (None before the first apply)."""
    return read_snapshot(spark, mirror_dir, TABLE)


def _claim(batch_df: DataFrame) -> tuple[int, int, set[int]] | None:
    """The lowest and highest block of the batch and the block ranges
    its blocks fall in; None for an empty batch."""
    lo, hi, ranges = batch_df.agg(
        F.min("block"),
        F.max("block"),
        F.collect_set(F.floor(F.col("block") / RANGE_SIZE)),
    ).first()
    if lo is None:
        return None
    return int(lo), int(hi), {int(r) for r in ranges}


def _split(batch_df: DataFrame, insert_types: tuple[str, ...]):
    cols = [c for c in batch_df.columns if c != "_change_type"]
    change = F.col("_change_type")
    inserts = batch_df.where(change.isin(*insert_types)).select(*cols)
    deletes = batch_df.where(change == "delete").select(*cols)
    return cols, inserts, deletes


def apply_changes_batch(batch_df: DataFrame, batch_id: int, mirror_dir: str) -> bool:
    """Idempotently fold one change-feed microbatch into the mirror.

    Returns False (no-op) when `batch_id` was already applied — the
    restart-replay case — or the batch is empty; True after publishing
    it. Deletes are multiset (exceptAll), the read_changes semantics: a
    duplicate row deleted once survives once."""
    if is_applied(mirror_dir, batch_id):
        return False
    claim = _claim(batch_df)
    if claim is None:
        return False
    lo, hi, ranges = claim
    spark = batch_df.sparkSession
    cols, new, deletes = _split(batch_df, ("insert",))
    cur = SnapshotStore(mirror_dir).current()
    old = _read_fragments(
        spark, mirror_dir, TABLE,
        [
            (r, f[0]) for r, f in (fragments(cur, TABLE) if cur else [])
            if r in ranges and f[1] <= hi and f[2] >= lo
        ],
    )
    if old is not None:
        claimed = old.join(
            F.broadcast(batch_df.select("block").distinct()), "block", "left_semi"
        )
        new = claimed.select(*cols).exceptAll(deletes).unionByName(new)
    commit_batch(
        spark, mirror_dir, {TABLE: new}, batch_id, lo, hi,
        heights=batch_df.select("block"),
    )
    return True


def apply_changes_batch_keyed(
    batch_df: DataFrame, batch_id: int, mirror_dir: str
) -> bool:
    """KEYED idempotent apply — the upsert consumer, keyed on `block`
    (the read_changes(key_cols=) counterpart): every block the feed
    touches is REPLACED wholesale by the feed's insert/postimage rows.
    Same replay/empty-batch contract as the multiset apply.

    Why a second consumer exists: the multiset apply (exceptAll)
    removes a delete only if its row image byte-matches the mirror —
    correct under the feed's own contract, but brittle when the mirror
    drifted (a hand-patched row, a lossy column rewrite): the stale row
    survives AND its replacement lands, duplicating the key. The keyed
    apply removes BY KEY, so it reconverges to the source regardless of
    image drift — the reason production CDC mirrors key their applies
    (pytest pins exactly this divergence)."""
    if is_applied(mirror_dir, batch_id):
        return False
    claim = _claim(batch_df)
    if claim is None:
        return False
    lo, hi, _ = claim
    _, inserts, _ = _split(batch_df, ("insert", "update_postimage"))
    commit_batch(
        batch_df.sparkSession, mirror_dir, {TABLE: inserts}, batch_id, lo, hi,
        heights=batch_df.select("block"),
    )
    return True


def start_changes_stream(
    spark: SparkSession,
    root: str,
    table: str,
    store_dir: str,
    checkpoint_dir: str,
    apply,
):
    """Subscribe a consumer to a snapshot table's change feed: each
    microbatch (one per snapshot-version delta; the source's offset is
    the version number) goes to `apply(batch_df, batch_id, store_dir)`.
    The query drains the pending commits, then stops (an availableNow
    trigger); a later call resumes from the checkpoint."""
    from ..sources.python_datasource import register_snapshot_changes

    register_snapshot_changes(spark)
    feed = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("table", table)
        .load()
    )
    return (
        feed.writeStream.foreachBatch(lambda df, bid: apply(df, bid, store_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
