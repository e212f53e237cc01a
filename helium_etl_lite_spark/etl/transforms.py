"""Pure DataFrame transforms mirroring the reference's per-block logic
(SURVEY §2.1 E4-E13), run by the incremental follower.

The reference walks txns row-by-row with per-row INSERTs
(src/block_processor.rs:55-147); here the whole block RANGE is one
declarative plan: envelope explode → type filter → payload join →
rewards explode → project/coalesce/cast → optional broadcast semi-join.
Catalyst pushes the type filter below the explode and broadcasts the
filter table — the hand-coded orderings in the Rust disappear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import REWARDS_V2_FIELDS_SCHEMA, SENTINEL, TXN_TYPES

MODES = ("rewards", "full", "filters")


def explode_envelopes(blocks: DataFrame) -> DataFrame:
    """One row per (block, txn envelope) — the reference's
    `for txn in &block.transactions` (src/block_processor.rs:55).
    explode_outer is NOT used: a block with no txns contributes no rows,
    exactly like the reference's loop."""
    return blocks.select(
        F.col("height").alias("block"),
        F.col("time"),
        F.col("hash").alias("block_hash"),
        F.explode("transactions").alias("txn"),
    ).select("block", "time", "block_hash", F.col("txn.type").alias("txn_type"), F.col("txn.hash").alias("txn_hash"))


def validate_txn_types(envelopes: DataFrame) -> DataFrame:
    """E9: enum-validating cast (reference src/transaction.rs:9 — the
    Postgres enum rejects unknown labels and aborts the block's txn).
    raise_error inside when() fails the batch on the first unknown type,
    matching fail-stop semantics."""
    return envelopes.withColumn(
        "txn_type",
        F.when(F.col("txn_type").isin(TXN_TYPES), F.col("txn_type")).otherwise(
            F.raise_error(F.concat(F.lit("unknown transaction type: "), F.col("txn_type")))
        ),
    )


def extract_rewards(envelopes: DataFrame, txns: DataFrame) -> DataFrame:
    """E4+E5+E6+E7+E8: filter to rewards_v2, join the typed payload,
    explode the rewards array, project the 7-column reward row.

    Note the reference quirk preserved here: `transaction_hash` is the
    BLOCK hash, not the txn hash (block.hash threaded through
    src/block_processor.rs:73 → src/reward.rs:19,41).

    Join strategy: payloads are keyed by hash — at 100 TB this is a
    shuffle-on-hash equi-join (the reference does an N+1 RPC per txn;
    one distributed join replaces all of them).

    Fail-stop parity (E22): the reference aborts the whole block when a
    transactions::get fails (src/block_processor.rs:58-67, 130-135). An
    inner join would silently contribute zero rewards for a rewards_v2
    envelope whose payload row is missing — so this joins LEFT and
    raise_errors on the orphan, aborting the batch like the Rust does.
    """
    rv2 = envelopes.where(F.col("txn_type") == "rewards_v2")
    payloads = txns.select(
        F.col("hash").alias("txn_hash"),
        F.from_json("fields", REWARDS_V2_FIELDS_SCHEMA).alias("f"),
    )
    joined = rv2.join(payloads, "txn_hash", "left").withColumn(
        "f",
        F.when(F.col("f").isNotNull(), F.col("f")).otherwise(
            F.raise_error(
                F.concat(F.lit("missing rewards_v2 payload for txn "), F.col("txn_hash"))
            )
        ),
    )
    exploded = joined.select(
        "block",
        "time",
        "block_hash",
        F.explode("f.rewards").alias("r"),
    )
    return exploded.select(
        F.col("block").cast("long").alias("block"),
        F.col("block_hash").alias("transaction_hash"),
        F.col("time").cast("long").alias("time"),
        F.coalesce(F.col("r.account"), F.lit(SENTINEL)).alias("account"),
        F.coalesce(F.col("r.gateway"), F.lit(SENTINEL)).alias("gateway"),
        F.col("r.amount").cast("long").alias("amount"),
        F.col("r.type").alias("type"),
    )


def semi_join_filters(rewards: DataFrame, filters: DataFrame) -> DataFrame:
    """E11: Filters-mode membership — keep a reward iff its account OR
    gateway is in the filter table; emit it ONCE even if both match
    (first-match-wins, `continue 'rloop` at src/block_processor.rs:93,113).

    A single left_semi with an OR predicate gives exactly-once emission
    by construction. The filter table is dimension-sized (reference
    loads it into memory, src/follower.rs:49-57) → broadcast; Spark
    plans a broadcast nested-loop semi-join. For big filter sets, split
    into two hash semi-joins and OR via union+distinct on a unique key.

    Matching is done on the RAW (pre-sentinel) values: the reference
    checks r.account/r.gateway before null-defaulting — but since the
    sentinel never appears in real filter values, matching post-sentinel
    columns is equivalent; we still exclude the sentinel explicitly for
    exactness.
    """
    probe = F.broadcast(
        filters.where(~F.col("value").isNull()).select(
            F.col("type").alias("type_f"), F.col("value").alias("value_f")
        )
    )
    cond = (
        (F.col("type_f") == "account")
        & (F.col("account") == F.col("value_f"))
        & (F.col("account") != SENTINEL)
    ) | (
        (F.col("type_f") == "gateway")
        & (F.col("gateway") == F.col("value_f"))
        & (F.col("gateway") != SENTINEL)
    )
    return rewards.join(probe, cond, "left_semi")


def build_transactions(envelopes: DataFrame, txns: DataFrame) -> DataFrame:
    """E10+E15: Full mode loads EVERY envelope txn with its whole typed
    payload serialized opaque (reference src/block_processor.rs:127-141,
    src/transaction.rs:16-34)."""
    payloads = txns.select(F.col("hash").alias("txn_hash"), F.col("fields"))
    return (
        envelopes.join(payloads, "txn_hash", "left")
        .select(
            F.col("block").cast("long").alias("block"),
            F.col("txn_hash").alias("hash"),
            F.col("txn_type").alias("type"),
            # fail-stop on a missing payload, like the reference's
            # transactions::get error aborting the block
            # (src/block_processor.rs:130-135)
            F.when(F.col("fields").isNotNull(), F.col("fields"))
            .otherwise(
                F.raise_error(
                    F.concat(F.lit("missing payload for txn "), F.col("txn_hash"))
                )
            )
            .alias("fields"),
        )
    )


def dedup_transactions(txns: DataFrame) -> DataFrame:
    """PK(hash) idempotence (migrations/V3:43): one row per hash, the
    row of the lowest block, ties broken by type and then by fields,
    so a replay stores the row the first pass stored (the follower's
    pass applies the same rule, etl/arrow_transforms.py)."""
    first = F.min(F.struct("block", "type", "fields")).alias("first")
    return txns.groupBy("hash").agg(first).select(
        "first.block", "hash", "first.type", "first.fields"
    )


def build_outputs(
    mode: str, blocks: DataFrame, txns: DataFrame, filters: DataFrame | None = None
) -> dict[str, DataFrame]:
    """E13: mode dispatch (reference src/settings.rs:8-12,
    src/block_processor.rs:71-121,127-144).

    - rewards: rewards table only
    - full:    rewards table AND all txns, one row per hash
               (dedup_transactions; rewards_v2 double-written:
               exploded in rewards + opaque row in transactions,
               src/block_processor.rs:72 + :127-141)
    - filters: rewards restricted by the filter semi-join
    """
    if mode not in MODES:
        raise ValueError(f"unknown mode {mode!r}; expected one of {MODES}")
    envelopes = validate_txn_types(explode_envelopes(blocks))
    rewards = extract_rewards(envelopes, txns)
    out: dict[str, DataFrame] = {}
    if mode == "filters":
        if filters is None:
            raise ValueError("filters mode requires the filters table")
        out["rewards"] = semi_join_filters(rewards, filters)
    else:
        out["rewards"] = rewards
    if mode == "full":
        out["transactions"] = dedup_transactions(build_transactions(envelopes, txns))
    return out
