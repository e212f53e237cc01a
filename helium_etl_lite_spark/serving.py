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

Consistency: register_views reads the snapshot manifest
(etl/snapshot.py) ONCE and pins that version for everything it serves:
the Spark views and, per Spark session, the parquet file lists of that
version's `rewards` and `transactions` fragments, which the helpers
read. The follower publishes data and cursor in the same rename, so a
read never observes a block past `follower_info`; a commit landing
after register_views stays invisible until the next call, and a
replayed range's superseded fragments (on disk until `vacuum`) are
never read, because the file lists come from the manifest, not from a
listing of the table directory. Snapshots are immutable, so this is
the isolation the reference gets from Postgres transactions.

Scale: the Spark views read the manifest's fragment directories
(`block_range` stays a partition column) and serve `cli sql`, time
travel and the CDC views. The four helpers are the interactive tier
beside that batch engine (Dremel, Presto at scale): each is one
parameterised query of an in-process DuckDB over the pinned files,
with no Spark job, one DuckDB cursor per thread, and `block_range`
recovered from the fragment path. Block, gateway, hash and type
predicates push down to parquet row groups, the B-tree indexes' job
done by layout + pushdown. A helper returns a `ServedRead`:
`.collect()` gives `pyspark.sql.Row`s with the columns and order of
the Spark SQL the helper stands for, and `.inputFiles()` the files it
scans.

JSON extraction is DuckDB's `json_extract_string`, guarded by
`json_valid` so a payload that is not JSON gives NULL, as Spark's
`get_json_object` does. The two parsers still disagree on two kinds of
malformed payload: a trailing comma (`{"a":1,}`) is valid to DuckDB,
which extracts from it, while Spark's Jackson gives NULL; trailing
garbage after a complete value (`{"a":1} x`) is invalid to DuckDB,
which gives NULL, while Jackson stops after the first value and
extracts.
"""

from __future__ import annotations

import os
import threading
import weakref
from functools import cache

import duckdb
from pyspark.sql import DataFrame, Row, SparkSession

from .etl.schemas import FOLLOWER_INFO_SCHEMA, SENTINEL
from .etl.snapshot import (
    SnapshotStore,
    fragment_dir,
    fragments,
    pair_updates,
    read_changes,
    read_snapshot,
    require_fragments,
)

# The helpers' tables: register_views pins their file lists.
SERVED_TABLES = ("rewards", "transactions")

# Spark session -> table -> the parquet files of the version its last
# register_views pinned.
_pinned: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

# One scan of the pinned files, always parameter $1; `filename` is where
# block_range comes from.
_SCAN = "read_parquet($1, filename = true, hive_partitioning = false)"
_TXN_COLUMNS = (
    "block, hash, type, fields, CAST(regexp_extract(filename, "
    "'/block_range=(-?[0-9]+)/[^/]*$', 1) AS INTEGER) AS block_range"
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
    feed — a shared key list serves heterogeneous stores).
    The same version's `rewards` and `transactions` file lists are
    pinned for `spark`: the helpers below read those files until the
    next call."""
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
    for table in SERVED_TABLES:
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
    _pinned[spark] = {
        table: _fragment_files(out_dir, manifest, table)
        for table in SERVED_TABLES if table in views
    }
    return views


class ServedRead:
    """One helper read over pinned fragment files, run when collected."""

    def __init__(self, sql: str, files: list[str], params: list):
        self.sql, self.files, self.params = sql, files, params

    def collect(self) -> list[Row]:
        cur = _cursor()
        cur.execute(self.sql, [self.files, *self.params])
        row = Row(*(d[0] for d in cur.description))
        return [row(*values) for values in cur.fetchall()]

    def inputFiles(self) -> list[str]:
        return list(self.files)


@cache
def _connection() -> duckdb.DuckDBPyConnection:
    return duckdb.connect()


_local = threading.local()
_connect_lock = threading.Lock()


def _cursor() -> duckdb.DuckDBPyConnection:
    """This thread's cursor on the one in-process DuckDB connection: a
    DuckDB connection object must not run statements from two threads
    at once. The lock keeps two first calls from opening two
    connections."""
    cur = getattr(_local, "cursor", None)
    if cur is None:
        with _connect_lock:
            cur = _local.cursor = _connection().cursor()
    return cur


def _fragment_files(root: str, manifest: dict, table: str) -> list[str]:
    """The parquet files of `table` in `manifest`: its fragments' files,
    never a listing of the table directory, which still holds the
    fragments a replay or compaction superseded until `vacuum`."""
    files = []
    for r, frag in fragments(manifest, table):
        d = fragment_dir(root, table, r, frag[0])
        files += sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    return files


def _read(spark: SparkSession, table: str, sql: str, params: list) -> ServedRead:
    pinned = _pinned.get(spark, {})
    if table not in pinned:
        raise ValueError(f"no `{table}` pinned for this session: call register_views first")
    return ServedRead(sql, pinned[table], params)


def rewards_in_block_range(spark: SparkSession, lo: int, hi: int) -> ServedRead:
    """rewards_block_idx pattern: range scan + per-block sums. The
    BETWEEN predicate skips row groups by their block statistics."""
    return _read(
        spark, "rewards",
        f"""SELECT block, SUM(amount) AS total_amount, COUNT(*) AS n_rewards
        FROM {_SCAN} WHERE block BETWEEN $2 AND $3 GROUP BY block ORDER BY block""",
        [int(lo), int(hi)],
    )


def gateway_earnings_topk(spark: SparkSession, k: int = 10) -> ServedRead:
    """rewards_gateway_idx pattern: per-gateway earnings, top-k, ties
    broken by gateway."""
    return _read(
        spark, "rewards",
        f"""SELECT gateway, SUM(amount) AS earned, COUNT(*) AS n_rewards
        FROM {_SCAN} WHERE gateway <> $2 GROUP BY gateway
        ORDER BY earned DESC, gateway LIMIT $3""",
        [SENTINEL, int(k)],
    )


def transaction_by_hash(spark: SparkSession, hash: str) -> ServedRead:
    """transactions_pkey pattern: point lookup."""
    return _read(
        spark, "transactions", f"SELECT {_TXN_COLUMNS} FROM {_SCAN} WHERE hash = $2", [hash]
    )


def transactions_by_type(
    spark: SparkSession, txn_type: str, json_path: str | None = None
) -> ServedRead:
    """transaction_type_idx pattern: slice by type, optionally
    extracting a field from the opaque JSON payload (the jsonb column,
    migrations/V3:41) as `field`."""
    if json_path is None:
        return _read(
            spark, "transactions", f"SELECT {_TXN_COLUMNS} FROM {_SCAN} WHERE type = $2", [txn_type]
        )
    return _read(
        spark, "transactions",
        f"""SELECT {_TXN_COLUMNS}, CASE WHEN json_valid(fields)
        THEN json_extract_string(fields, $3) END AS field
        FROM {_SCAN} WHERE type = $2""",
        [txn_type, json_path],
    )
