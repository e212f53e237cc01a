"""As-of join: for each left row, the latest right row with
right.ts <= left.ts within an equality key.

Spark has no built-in as-of join; two compositions:

- ``asof_join`` (pairwise): equi-join on the key with the range
  predicate, then keep the max-ts match per left row via row_number.
  Simple, but each left row first pairs with EVERY earlier right row
  of its key — O(L·R/key) intermediate rows. Fine when ``tolerance``
  bounds the band or right rows per key are few.
- ``asof_join_union`` (merge): union both sides, one sort per key by
  (ts, side, tiebreak), carry the last-seen right row forward with
  last(ignoreNulls) over a running frame. O(L+R) rows, one shuffle,
  no pair blowup — the at-scale default.

Ties on ts are broken by ``right_tiebreak`` (max wins) so results are
deterministic and both variants agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


JOIN_HOW = "left"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    right_tiebreak: str,
    tolerance=None,
) -> DataFrame:
    """``left_id`` must uniquely identify left rows (e.g. event_id)."""
    cond = (left[left_on] == right[right_on]) & (right[right_ts] <= left[left_ts])
    if tolerance is not None:
        cond = cond & (right[right_ts] >= left[left_ts] - tolerance)
    joined = left.join(right, cond, JOIN_HOW)
    w = Window.partitionBy(left[left_id]).orderBy(
        right[right_ts].desc_nulls_last(), right[right_tiebreak].desc_nulls_last()
    )
    return joined.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def asof_join_union(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    right_tiebreak: str,
) -> DataFrame:
    """Merge-based as-of join (left-outer semantics): O(L+R) rows,
    one shuffle on the key, no per-key pair blowup.

    Sort order (ts, is_right DESC, tiebreak ASC) puts right rows before
    left rows at equal ts (<= semantics) and the winning tiebreak last;
    `last(payload, ignoreNulls)` over a running frame then carries
    exactly the latest right row onto each left row. Output = left
    columns + right columns (null where no right row precedes).
    """
    right_payload_cols = [c for c in right.columns]
    l = left.select(
        F.col(left_on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.lit(None).cast("long").alias("__tb"),
        F.struct(*left.columns).alias("__l"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_payload_cols) + ">"
        ).alias("__r"),
    )
    r = right.select(
        F.col(right_on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        F.col(right_tiebreak).cast("long").alias("__tb"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{left.schema[c].dataType.simpleString()}" for c in left.columns) + ">"
        ).alias("__l"),
        F.struct(*right_payload_cols).alias("__r"),
    )
    w = (
        Window.partitionBy("__key")
        .orderBy(
            F.col("__ts").asc(),
            F.col("__is_right").desc(),
            F.col("__tb").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l.unionByName(r).withColumn(
        "__carry", F.last("__r", ignorenulls=True).over(w)
    )
    out = merged.where(F.col("__is_right") == 0)
    cols = [F.col(f"__l.{c}").alias(c) for c in left.columns] + [
        F.col(f"__carry.{c}").alias(c) for c in right_payload_cols
    ]
    return out.select(*cols)
