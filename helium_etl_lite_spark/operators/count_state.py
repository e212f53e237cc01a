"""Generic persisted ADDITIVE-COUNT state — the shared substrate for
every scorer whose sufficient statistics are integer count tables
(DSIR's hashed-bucket counts, the n-gram LM count tables): each batch's
count DELTA lands as one fragment, totals re-derive by per-key
addition.

The state is a batch-id store (etl/snapshot.py commit_state), the same
format as the dedup states: the fold-in commits the delta with the
caller's batch id as the manifest cursor, and a batch id at or below
the cursor is a replay and is skipped. That matters more here than for
a set: a replayed append would double-count. Fold order commutes
because integer addition does.

100 TB posture: each batch is scanned once to count; state reads are
O(distinct keys x n_batches) rows of integers (for hashed-bucket
scorers the key domain is BOUNDED by construction; for n-gram LMs it
scales with vocab, sublinear in corpus); the landed corpus is never
re-read. Each fold-in's commit folds the newest same-size fragments of
the state's block range (etl/snapshot.py), so a one-row fold-in never
rewrites the accumulated state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.snapshot import STATE, commit_state, read_snapshot


def count_state_add(
    spark: SparkSession,
    delta: DataFrame,
    state_path: str,
    batch_id: int,
    key_cols: list[str],
    count_cols: list[str],
) -> None:
    """Fold one batch's count delta (one row per touched key) into the
    persisted state as one fragment committed under `batch_id`. A
    replayed batch id is skipped, so a crash-replay cannot
    double-count."""
    commit_state(spark, state_path, delta.select(*key_cols, *count_cols), batch_id)


def count_state_totals(
    spark: SparkSession,
    state_path: str,
    key_cols: list[str],
    count_cols: list[str],
) -> DataFrame | None:
    """Accumulated counts: per-key SUM over every folded batch's delta
    (one read_snapshot of the state) — the same shape a full one-shot
    scan would produce, derived from the stored deltas instead (integer
    addition is lossless, so downstream consumers are bit-identical to
    the one-shot path). None if no batch has ever been folded in."""
    state = read_snapshot(spark, state_path, STATE)
    if state is None:
        return None
    return state.groupBy(*key_cols).agg(
        *[F.sum(c).alias(c) for c in count_cols]
    )
