"""DSIR importance-weighting with PERSISTED bucket-count state — the
ingest-loop twin of the batch scorer (queries/curation.py
text_dsir_importance), completing the incremental symmetry the other
scorer families already have (exact/MinHash/substring/semantic/URL
dedup each carry a *_filter_new / *_state_add pair; r13 verdict item 3
named DSIR as the one without).

Why this state is trivially incremental: DSIR's sufficient statistics
are per-bucket integer counts (c_raw, c_tgt) over a 16-bit hashed
feature space — bounded at 65536 rows REGARDLESS of corpus size (the
hashing trick's point, Xie 2023 §3). Counts from disjoint batches
merge by per-bucket addition, so a continuously-crawling pipeline folds
each batch's delta in O(batch) and re-derives the (bounded, broadcast)
log-ratio table from state instead of re-scanning the landed corpus.

State layout: (b, c_raw, c_tgt) rows in a batch-id store
(operators/count_state.py, etl/snapshot.py): each ingest batch's count
DELTA is one fragment, committed with the caller's batch_id as the
manifest cursor, so a crash-replay of the same batch id is skipped —
replay-idempotent without set semantics (a double append would
double-count). Reading the current totals is a sum over all fragments —
at most 65536 x n_batches rows of (long, long, long); each commit's
fold merges their fragments as they accumulate.

100 TB posture: the corpus is never re-read — each batch is scanned
once to count and once to score; everything else (state read, totals,
log-ratio) is arithmetic over tables bounded by the bucket space, and
the score join back to the feature stream is a true broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .count_state import count_state_add, count_state_totals


def dsir_state_add(
    spark: SparkSession,
    counts: DataFrame,
    state_path: str,
    batch_id: int,
) -> None:
    """Fold one batch's bucket-count delta into the persisted state.

    `counts` must be a (b, c_raw, c_tgt) table (one row per touched
    bucket — the output of the shared bucket agg). Delegates to the
    generic additive-count state (operators/count_state.py): one
    fragment per batch id, and a replayed batch id is skipped; the
    delta is bounded at 65536 rows by the bucket space."""
    count_state_add(
        spark, counts, state_path, batch_id,
        key_cols=["b"], count_cols=["c_raw", "c_tgt"],
    )


def dsir_state_counts(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """Current accumulated bucket counts: per-bucket SUM over every
    folded batch's delta — the same (b, c_raw, c_tgt) shape the
    batch scorer computes from a full corpus scan, derived here from
    O(65536 x n_batches) stored rows instead. None if no batch has
    ever been folded in."""
    return count_state_totals(
        spark, state_path, key_cols=["b"], count_cols=["c_raw", "c_tgt"]
    )
