"""Serving layer (SURVEY §2.2): the relational query surface the
reference's Postgres schema + indexes exist for, over THIS engine's
output tables.

A helium-etl-lite user points psql at `rewards` / `transactions` /
`follower_info` (migrations V1-V3) and runs block-range sums, gateway
top-k, hash lookups and JSONB extraction. register_views() exposes the
same three names to Spark SQL; the canned helpers below are the
patterns each reference index was built for:

| reference index                   | helper                      |
|-----------------------------------|-----------------------------|
| rewards_block_idx (V1:11)         | rewards_in_block_range      |
| rewards_gateway_idx (V1:12)       | gateway_earnings_topk       |
| transactions_pkey (V3:43)         | transaction_by_hash         |
| transaction_type/block (V3:46-47) | transactions_by_type        |

Consistency: every view comes from ONE read of the snapshot manifest
(etl/snapshot.py). The follower publishes data and cursor in the same
rename, so a query never observes a block past `follower_info`, and a
commit landing mid-call cannot give the views different versions — the
same isolation the reference gets from Postgres transactions.

Scale: each view is one read of the manifest's fragment directories
(`block_range` stays a partition column); block_range predicates prune
directories, block/gateway/type predicates push to parquet row groups —
the B-tree indexes' job, done by layout + pushdown instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .etl.schemas import FOLLOWER_INFO_SCHEMA, SENTINEL
from .etl.snapshot import (
    SnapshotStore,
    pair_updates,
    read_changes,
    read_snapshot,
    require_fragments,
)


def register_views(
    spark: SparkSession,
    out_dir: str,
    at_version: int | None = None,
    changes_since: int | None = None,
    change_key_cols: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Expose the output tables under the reference's table names.
    `transactions` is registered only when the pipeline mode produced it
    (full mode). Returns the DataFrames keyed by view name.
    `at_version` time-travels to a historical snapshot (kept until
    `vacuum` drops it). `changes_since` additionally registers
    `<table>_changes` views holding the CDC diff from that version to
    the served one (read_changes: '_change_type' insert/delete, reading
    only the fragments the two manifests do not share).
    `change_key_cols` upgrades those views to the KEYED feed: in-place
    changes of a key pair as update_preimage/update_postimage (the
    Delta-CDF contract; tables missing a key column keep the plain
    feed — a shared key list serves heterogeneous stores)."""
    store = SnapshotStore(out_dir)
    manifest = store.current() if at_version is None else store.manifest(at_version)
    if manifest is None:
        if at_version is not None and store.current_version() is not None:
            raise ValueError(
                f"no snapshot version {at_version} at {out_dir} (vacuumed or never committed)"
            )
        raise ValueError(f"no snapshot store at {out_dir}")
    require_fragments(manifest, out_dir)

    # Every table is read at the served manifest's version: re-reading
    # CURRENT per table could pair one version's tables with another's
    # cursor if a commit landed mid-call.
    views: dict[str, DataFrame] = {}
    for table in ("rewards", "transactions"):
        df = read_snapshot(spark, out_dir, table, version=manifest["version"])
        if df is not None:
            views[table] = df
    if "rewards" not in views:
        raise ValueError(f"no committed rewards in snapshot version {manifest['version']} at {out_dir}")
    views["follower_info"] = spark.createDataFrame(
        [(manifest["height"], manifest["first_block"])], FOLLOWER_INFO_SCHEMA
    )
    if changes_since is not None:
        v_to = manifest["version"]
        for table in manifest["tables"]:
            diff = read_changes(spark, out_dir, table, changes_since, v_to)
            if diff is None:
                continue
            if change_key_cols and all(
                k in diff.columns for k in change_key_cols
            ):
                # re-tag the diff already built — pair_updates operates
                # on the feed itself, so no second manifest/diff pass
                diff = pair_updates(diff, change_key_cols)
            views[f"{table}_changes"] = diff
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return views


def rewards_in_block_range(spark: SparkSession, lo: int, hi: int) -> DataFrame:
    """rewards_block_idx pattern: range scan + per-block sums. The
    BETWEEN predicate prunes block_range partitions before any IO."""
    return spark.sql(
        f"""
        SELECT block, SUM(amount) AS total_amount, COUNT(*) AS n_rewards
        FROM rewards WHERE block BETWEEN {int(lo)} AND {int(hi)}
        GROUP BY block ORDER BY block
        """
    )


def gateway_earnings_topk(spark: SparkSession, k: int = 10) -> DataFrame:
    """rewards_gateway_idx pattern: per-gateway earnings, top-k. The
    top-k plans as TakeOrderedAndProject (per-partition heaps)."""
    return spark.sql(
        f"""
        SELECT gateway, SUM(amount) AS earned, COUNT(*) AS n_rewards
        FROM rewards WHERE gateway <> '{SENTINEL}'
        GROUP BY gateway ORDER BY earned DESC, gateway LIMIT {int(k)}
        """
    )


def transaction_by_hash(spark: SparkSession, hash: str) -> DataFrame:
    """transactions_pkey pattern: point lookup."""
    return spark.table("transactions").where(F.col("hash") == hash)


def transactions_by_type(
    spark: SparkSession, txn_type: str, json_path: str | None = None
) -> DataFrame:
    """transaction_type_idx pattern: slice by type, optionally
    extracting a field from the opaque JSON payload (the jsonb column,
    migrations/V3:41)."""
    out = spark.table("transactions").where(F.col("type") == txn_type)
    if json_path is not None:
        out = out.withColumn("field", F.get_json_object("fields", json_path))
    return out
