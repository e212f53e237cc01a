"""Incremental rollup maintenance — TimescaleDB-style continuous
aggregates (the `rollup_time_hypertable` query's batch shape, kept
fresh per-batch instead of recomputed from scratch).

Design: REFRESH, not merge-in-place. A naive "merge the batch's partial
aggregates into the stored rollup" double-counts the moment a batch is
replayed (crash between rollup write and source commit, streaming
checkpoint replay, a backfill re-run) — the rollup would no longer be a
pure function of the source. Instead, each update:

1. derives the TOUCHED time buckets from the batch (control-plane
   small: one distinct over the batch's bucket column);
2. recomputes exactly those buckets from the source table — the bucket
   predicate prunes source partitions, so cost is O(touched buckets),
   not O(history);
3. replaces those buckets' rows in the rollup table via the same
   idempotent height-set range writer the follower uses
   (write_block_range_idempotent with bucket-as-block) — including
   deleting rollup rows for a bucket whose events disappeared.

The result is idempotent (any replay converges), late-data-correct (a
late event refreshes its old bucket), and incremental. This is the
invalidation-based refresh TimescaleDB/Materialize use, expressed in
two Spark jobs per batch.

100 TB posture: the rollup table is partitioned by coarse bucket range;
a batch touches O(its time span / width) buckets; the recompute scans
only those buckets' source partitions (partition pruning — keep the
source partitioned by the same time column). Aggregates here are the
mergeable set (count/sum/min/max); distinct-counting at scale belongs
in a mergeable sketch column (HLL), not an exact COUNT DISTINCT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.pipeline import write_block_range_idempotent


def bucket_of(time_col: str, width_sec: int):
    """Epoch-second bucket start for a timestamp column (timestamp_ntz
    safe: route through timestamp, not unix_timestamp — sub-second
    truncation differs)."""
    epoch = F.col(time_col).cast("timestamp").cast("double")
    return (F.floor(epoch / F.lit(width_sec)) * width_sec).cast("long")


TIME_COL = "ts"
KEYS = ("event_type",)
BUCKET_WIDTH_SEC = 3600
BUCKETS_PER_RANGE = 24


def refresh_rollup(
    spark: SparkSession,
    source: DataFrame,
    batch: DataFrame,
    path: str,
    value_col: str = "cents",
    distinct_col: str | None = None,
) -> list[int]:
    """Refresh the persisted rollup at `path` for every bucket the batch
    touches. `source` must already contain the batch's rows (land the
    facts first, then refresh — same ordering as data-then-cursor).
    Returns the refreshed bucket ids (epoch seconds).

    `distinct_col` adds a `distinct_sketch` column: an HLL sketch
    (binary, Apache DataSketches via hll_sketch_agg) instead of an exact
    COUNT DISTINCT. read_rollup() exposes the estimate.
    """
    bucket = bucket_of(TIME_COL, BUCKET_WIDTH_SEC)
    touched_rows = batch.select(bucket.alias("bucket")).distinct().collect()
    touched = sorted(int(r["bucket"]) for r in touched_rows)
    if not touched:
        return []
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("total_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("distinct_sketch"))
    src = source.withColumn("bucket", bucket)
    if len(touched) <= 256:
        # small set: an IN-list predicate participates in partition
        # pruning / row-group skipping at the scan
        src = src.where(F.col("bucket").isin(touched))
    else:
        # a backfill touching thousands of buckets would compile a
        # giant literal list; a broadcast semi-join scales instead
        touched_df = spark.createDataFrame([(b,) for b in touched], "bucket long")
        src = src.join(F.broadcast(touched_df), "bucket", "left_semi")
    recomputed = (
        src.groupBy("bucket", *KEYS)
        .agg(*aggs)
        .withColumnRenamed("bucket", "block")
    )
    heights = spark.createDataFrame([(b,) for b in touched], "block long")
    write_block_range_idempotent(
        spark,
        recomputed,
        path,
        lo=touched[0],
        hi=touched[-1],
        range_size=BUCKETS_PER_RANGE * BUCKET_WIDTH_SEC,
        heights=heights,
    )
    return touched


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """The rollup table with its bucket column restored; if a distinct
    sketch was maintained, its cardinality estimate is materialized as
    `n_distinct_est` (the sketch column stays for further merging)."""
    df = spark.read.parquet(path).withColumnRenamed("block", "bucket")
    if "distinct_sketch" in df.columns:
        df = df.withColumn(
            "n_distinct_est", F.hll_sketch_estimate("distinct_sketch")
        )
    return df

