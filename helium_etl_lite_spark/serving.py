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

Consistency: by default every view is bounded by ONE read of the
follower's committed cursor (pipeline.bound_by_cursor), so a query never
observes blocks past it and the views never disagree on it — the same
isolation the reference gets from Postgres transactions. Pass
committed=False for raw (uncommitted-tail-visible) reads.

Scale: the views are plain partitioned parquet; block predicates prune
`block_range` directories, gateway/type predicates push to parquet row
groups — the B-tree indexes' job, done by layout + pushdown instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .etl.pipeline import CursorStore, bound_by_cursor
from .etl.schemas import FOLLOWER_INFO_SCHEMA, SENTINEL


def register_views(
    spark: SparkSession,
    out_dir: str,
    committed: bool = True,
    range_size: int = 1000,
    at_version: int | None = None,
    changes_since: int | None = None,
    change_key_cols: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Expose the output tables under the reference's table names.
    `transactions` is registered only when the pipeline mode produced it
    (full mode). Returns the DataFrames keyed by view name.
    `at_version` time-travels an atomic-sink store to a historical
    snapshot; requesting it against a plain (non-atomic) sink raises —
    plain sinks keep no history to travel to. `changes_since` (atomic
    sinks only) additionally registers `<table>_changes` views holding
    the CDC diff from that version to the served one (read_changes:
    '_change_type' insert/delete, partition-pruned by manifest diff).
    `change_key_cols` upgrades those views to the KEYED feed: in-place
    changes of a key pair as update_preimage/update_postimage (the
    Delta-CDF contract; tables missing a key column keep the plain
    feed — a shared key list serves heterogeneous stores)."""
    views: dict[str, DataFrame] = {}

    from .etl.snapshot import SnapshotStore, read_changes, read_snapshot

    store = SnapshotStore(out_dir)
    snapshot_manifest = (
        store.current() if at_version is None else store.manifest(at_version)
    )
    # --changes-since needs a snapshot STORE; check store existence
    # (current_version), not the resolved manifest — otherwise a
    # missing --at-version manifest would be misreported as "no
    # snapshot store" before the accurate at_version diagnostics below
    # run (review find).
    if changes_since is not None and store.current_version() is None:
        raise ValueError(
            f"--changes-since requires an atomic sink (no snapshot "
            f"store at {out_dir}; plain sinks keep no history)"
        )
    if at_version is not None and snapshot_manifest is None:
        if store.current_version() is None:
            raise ValueError(
                f"--at-version requires an atomic sink (no snapshot store "
                f"at {out_dir}; plain sinks keep no history)"
            )
        raise ValueError(
            f"no snapshot version {at_version} at {out_dir} (vacuumed or never committed)"
        )

    # One cursor read per call: the tables and follower_info are all
    # bounded by it, so a follower commit landing mid-call cannot give
    # them different heights. An atomic sink's cursor is the served
    # manifest's own.
    if snapshot_manifest is not None:
        cur = (snapshot_manifest["height"], snapshot_manifest["first_block"])
    else:
        cur = CursorStore(out_dir).read()

    def load(table: str) -> DataFrame:
        if snapshot_manifest is not None:
            # Atomic-sink output: the manifest IS the committed view —
            # uncommitted data isn't reachable from it at all, so no
            # cursor filter is needed (or meaningful).
            df = read_snapshot(spark, out_dir, table, version=at_version)
            if df is None:
                from pyspark.errors import AnalysisException

                raise AnalysisException(
                    f"[PATH_NOT_FOUND] no committed snapshot entry for table {table}"
                )
            return df
        df = spark.read.parquet(os.path.join(out_dir, table))
        return bound_by_cursor(df, cur, range_size) if committed else df

    views["rewards"] = load("rewards")
    # Only a missing table path means "mode produced no transactions";
    # any other failure (corrupt files, bad out_dir, cursor errors) must
    # surface, not silently drop the view (ADVICE r2).
    from pyspark.errors import AnalysisException

    try:
        views["transactions"] = load("transactions")
    except AnalysisException as exc:
        from .errors import is_path_not_found

        if not is_path_not_found(exc):
            raise
        # rewards/filters mode: no transactions table
    views["follower_info"] = spark.createDataFrame(
        [cur] if cur is not None else [], FOLLOWER_INFO_SCHEMA
    )
    if changes_since is not None:
        from .etl.snapshot import pair_updates

        v_to = snapshot_manifest["version"]
        for table in snapshot_manifest["tables"]:
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
