"""Change-feed consumers: maintain a downstream MIRROR of a snapshot
table from its change feed, and the catch-up loop every change-feed
consumer shares (the curation consumers in curation_stream.py use it
too).

The batch query `sink_snapshot_changes_apply` proves v1 + feed == v2;
this is the same contract run as a follower: follow_changes reads the
source's change feed (etl/snapshot.py read_changes) from the source
version the consumer store last applied to the source's CURRENT, hands
it to an apply, and survives kill/restart without double-applying.

Every consumer store is a batch-id store (etl/snapshot.py), written
through commit_batch: block-range fragments, a manifest, one durable
CURRENT swap. The manifest's cursor (`height`) holds the SOURCE
SNAPSHOT VERSION the store has applied through, so the data and the
position publish in one rename, and the store is the consumer's only
state (the reference's follower_info row, kept in the same transaction
as the rows). An apply whose batch id is at or below the cursor is a
replay and is skipped. A store whose cursor counts something else
(micro-batches of an earlier streaming consumer) is rebuilt by
following into a new directory.

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

After each apply the store stays bounded: the commit folds each touched
range's newest same-size fragments (commit_batch_atomic), and vacuum
keeps the fragments of the two newest versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.pipeline import CursorStore
from ..etl.snapshot import (
    RANGE_SIZE,
    SnapshotStore,
    _read_fragments,
    commit_batch,
    fragments,
    is_applied,
    read_changes,
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
    """Idempotently fold one change-feed batch into the mirror.

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


def follow_changes(
    spark: SparkSession, root: str, table: str, store_dir: str, apply
) -> bool:
    """Catch the consumer store at `store_dir` up with the change feed of
    `table` in the snapshot store at `root`: one
    `apply(feed, version, store_dir)` over every change between the
    source version the store has applied through (its cursor; 0 for a
    new store, so the first call bootstraps the whole table as inserts)
    and the source's CURRENT `version`. A feed the apply publishes
    nothing for (empty, or no rows left after its own filtering) still
    moves the cursor, through a manifest-only publish: a later call must
    not start from a source version that compaction superseded and
    vacuum deleted. The feed's rows carry the source's data columns
    only: its `block_range` directory key is dropped, because the
    consumer store keys its own ranges and a multiset delete matches
    rows on their data.

    Returns False when the store had already caught up, True after
    moving its cursor. Raises when the store's cursor is ahead of the
    source: it follows another source, or the source was rebuilt."""
    cursor = CursorStore(store_dir).read()
    applied = 0 if cursor is None else cursor[0]
    version = SnapshotStore(root).current_version() or 0
    if applied == version:
        return False
    if applied > version:
        raise ValueError(
            f"{store_dir} has applied source version {applied}, but {root} "
            f"is at version {version}; follow into a new directory"
        )
    feed = read_changes(spark, root, table, applied, version)
    if feed is None or not apply(feed.drop("block_range"), version, store_dir):
        CursorStore(store_dir).write(version, 0)
    return True
