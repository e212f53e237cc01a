"""Scale techniques: skew-salted joins, binned range joins, bucketed
co-located joins, distributed exact ntile.

These are the shuffle-shaping tools a 100 TB deployment reaches
for when the default plans degrade (SURVEY §7 "100 TB posture"):

- **Salting** — a hot key (one gateway earning most rewards, one user
  emitting most events) funnels a whole shuffle partition to one task.
  Salting splits the hot key across `n_salts` sub-partitions and
  replicates the other side per salt. AQE's skew-join handles moderate
  skew automatically; salting is the explicit fix when a single key
  exceeds what one task can hold.

- **Binned range join** — Spark executes a pure range predicate as a
  broadcast nested-loop join (O(N·M) comparisons). Bucketing both
  sides into coarse bins turns it into an equi-join on bin id (hash
  shuffle, then a cheap residual filter) — the standard interval-join
  strategy, and the same trick Databricks' range-join hint applies.

- **Bucketed tables** — pre-shuffling both fact tables into the same
  bucket layout on the join key makes every future join on that key
  shuffle-free (scan → sort-merge join with zero Exchange). This is
  the parquet/bucketBy analog of the reference's B-tree indexes
  (migrations/V1:11-12): pay the layout cost once at write time,
  query it forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: rows a control-plane table may collect to the driver.
MAX_CONTROL_ROWS = 4_000_000


def fan_out_small(df: DataFrame) -> DataFrame:
    """Fan a small scan out to the cluster's parallelism before a
    CPU-heavy row-local chain (tokenize/md5/regex/codec kernels).

    r11 found this for the multimodal Arrow kernels; r15 found the
    same single-split reality under the TEXT and VECTOR paths: every
    driver parquet file is ONE file with ONE row group, so a scan
    plans exactly one task and the whole row-local chain above the
    first exchange serializes on one core (measured: winnow's entire
    gram+md5 build, minhash's tokenize+signature build, knn's scoring
    scan). CONDITIONAL by design: at production scale the scan already
    yields at least as many splits as cores, the branch is never
    taken, and no payload bytes are ever shuffled — the round-robin
    exchange exists only in the tiny-input regime where it is ~free
    (count_key_shuffles exempts RoundRobinPartitioning for exactly
    this reason). Downstream results must be partitioning-invariant
    (row-local maps + keyed aggs/windows), which every call site's
    oracle re-verifies."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def distributed_ntile(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_tiles: int = 10,
    bucket_width: int = 100_000,
    out_col: str = "tile",
    max_control_rows: int = MAX_CONTROL_ROWS,
) -> DataFrame:
    """Exact `ntile(n) OVER (ORDER BY value_col, id_col)` without the
    single-task global sort that a partition-less window costs.

    Requires `id_col` unique, so the total order is strict and a row's
    tile is a pure function of its global rank. TWO-LEVEL control plane
    (same discipline as :func:`prefix_sum`): the driver never holds the
    (value, id-bucket) table — only one row PER DISTINCT VALUE:

    1. groupBy (value_col, id_col div bucket_width) → counts, kept
       DISTRIBUTED; per-value totals collected + prefix-summed
       driver-side in Spark's own value order (`orderBy(...).collect()`
       — no Python-`sorted()`-vs-Spark-ordering disagreement for any
       orderable value_col type; nulls order first, asc_nulls_first).
       Guarded by `max_control_rows` on the DISTINCT-VALUE count (a
       high-cardinality value_col would otherwise melt the control
       plane — pre-bucket it or raise the bound deliberately).
    2. per-value offsets join back onto the bucket counts; a window
       `partitionBy(value).orderBy(id-bucket)` (summing EARLIER buckets
       of the same value) turns them into exact per-(value, bucket)
       global offsets — still distributed.
    3. offsets join the data null-safely on (value, bucket) (NULL
       values tile like any other key instead of silently dropping; no
       broadcast hint — the offset table is #values × #id-buckets,
       unbounded, and AQE broadcasts it when genuinely small);
       row_number within each composite key — every window partition is
       capped at bucket_width rows no matter how skewed value_col is —
       then the SQL ntile formula on the 0-based global rank (first
       N mod n tiles take ceil(N/n)). No SinglePartition exchange
       appears anywhere.

    Empty input yields an empty result with the same schema (+out_col).
    """
    rb = (F.col(id_col) / bucket_width).cast("long")
    d = df.withColumn("__rb", rb)
    counts = (
        d.groupBy(F.col(value_col).alias("__v"), "__rb")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .persist()
    )
    per_v = counts.groupBy("__v").agg(F.sum("__cnt").alias("__vcnt"))
    # guard and fetch in ONE job (TakeOrdered of bound+1) — the former
    # separate count() job was pure overhead
    ordered_v = (
        per_v.orderBy(F.col("__v").asc_nulls_first())
        .limit(max_control_rows + 1)
        .collect()
    )
    if len(ordered_v) > max_control_rows:
        counts.unpersist()
        raise ValueError(
            f"distributed_ntile control table exceeds "
            f"max_control_rows={max_control_rows} distinct values; "
            f"value_col={value_col!r} is too high-cardinality for the "
            "bounded-control-plane assumption — pre-bucket it (e.g. "
            "round/width_bucket) or raise the bound deliberately"
        )
    total = sum(r["__vcnt"] for r in ordered_v)
    voffsets, acc = [], 0
    for r in ordered_v:
        voffsets.append((r["__v"], acc))
        acc += r["__vcnt"]
    voff_schema = T.StructType(
        [
            T.StructField("__v_o", df.schema[value_col].dataType),
            T.StructField("__voffset", T.LongType()),
        ]
    )
    voff = df.sparkSession.createDataFrame(voffsets, voff_schema)
    # per-(value, bucket) offsets: value start + earlier buckets of the
    # same value (empty frame sums NULL → 0 for the first bucket)
    wv = (
        Window.partitionBy("__v")
        .orderBy(F.col("__rb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        counts.join(F.broadcast(voff), F.col("__v").eqNullSafe(F.col("__v_o")))
        .withColumn(
            "__offset",
            F.col("__voffset") + F.coalesce(F.sum("__cnt").over(wv), F.lit(0)),
        )
        .select(F.col("__v"), F.col("__rb").alias("__rb_o"), "__offset")
        .localCheckpoint(eager=True)
    )
    counts.unpersist()
    q, rem = divmod(total, n_tiles)
    w = Window.partitionBy(value_col, "__rb").orderBy(F.col(id_col).asc())
    cond = d[value_col].eqNullSafe(off["__v"]) & (d["__rb"] == off["__rb_o"])
    ranked = (
        d.join(off, cond)
        .drop("__v", "__rb_o")
        .withColumn("__r0", F.col("__offset") + F.row_number().over(w) - 1)
    )
    cut = rem * (q + 1)
    tile = F.when(
        F.col("__r0") < cut, (F.col("__r0") / (q + 1)).cast("long") + 1
    ).otherwise(rem + ((F.col("__r0") - cut) / max(q, 1)).cast("long") + 1)
    return ranked.withColumn(out_col, tile.cast("int")).drop("__rb", "__offset", "__r0")


def _grouped_offsets(
    df: DataFrame,
    group_cols: list[str],
    bucket_col,
    max_control_rows: int,
):
    """Shared control plane for :func:`grouped_row_number` /
    :func:`grouped_ntile`: per-(group, order-bucket) counts stay
    DISTRIBUTED; a window over the counts table (each partition is at
    most #buckets rows, independent of corpus size) turns them into
    exact per-(group, bucket) global offsets. Returns
    (df+__gb, offsets, per-group totals)."""
    d = df.withColumn("__gb", bucket_col)
    counts = (
        d.groupBy(*[F.col(g) for g in group_cols], F.col("__gb"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .persist()
    )
    n_ctl = counts.count()
    if n_ctl > max_control_rows:
        counts.unpersist()
        raise ValueError(
            f"grouped control table has {n_ctl} (group, bucket) rows > "
            f"max_control_rows={max_control_rows}; bucket_col is too "
            "fine-grained for the bounded-control-plane assumption — "
            "coarsen it (shorter prefix / wider bin) or raise the bound "
            "deliberately"
        )
    wg = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("__gb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        counts.withColumn(
            "__goff", F.coalesce(F.sum("__cnt").over(wg), F.lit(0))
        )
        .select(
            *[F.col(g).alias(f"__g_{g}") for g in group_cols],
            F.col("__gb").alias("__gb_o"),
            "__goff",
        )
        .localCheckpoint(eager=True)
    )
    totals = (
        counts.groupBy(*group_cols)
        .agg(F.sum("__cnt").alias("__n_g"))
        .select(
            *[F.col(g).alias(f"__t_{g}") for g in group_cols], "__n_g"
        )
        .localCheckpoint(eager=True)
    )
    counts.unpersist()
    return d, off, totals


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    bucket_col,
    order_cols: list,
    out_col: str = "rn",
) -> DataFrame:
    """Exact `row_number() OVER (PARTITION BY group_cols ORDER BY
    order_cols)` for LOW-CARDINALITY groups, without per-group
    single-task sorts (r6 verdict item 1: a window partitioned on a
    ~5-100-value key funnels the dominant group through ONE task at
    100 TB, no matter how balanced the plan looks at test scale).

    `bucket_col` must be a coarse, monotone-non-decreasing function of
    the leading order key (every row in a lower bucket precedes every
    row in a higher one; ties in bucket resolved by `order_cols`
    inside), with a bounded domain — a fixed hash prefix, a fixed-width
    bin of a bounded value. Then:

    1. per-(group, bucket) counts: map-side-combinable hash agg,
       control table bounded by #groups x #buckets regardless of N
       (guarded by `MAX_CONTROL_ROWS`).
    2. a window over the COUNTS table (partition = group, <= #buckets
       rows each) prefix-sums them into exact per-(group, bucket)
       offsets — no driver collect anywhere.
    3. offsets join the data on (group, bucket) (null-safe; no
       broadcast hint — AQE broadcasts the bounded table on its own);
       row_number within (group, bucket) — for a uniform bucket_col
       every window partition holds ~N_g/#buckets rows, so the dominant
       group spreads over #buckets tasks instead of one — plus the
       offset is the exact global per-group rank.

    NULL order keys: choose bucket_col so NULLs land in a bucket that
    sorts consistently with `order_cols`' null placement (buckets order
    asc_nulls_first).
    """
    d, off, _ = _grouped_offsets(df, group_cols, bucket_col, MAX_CONTROL_ROWS)
    cond = d["__gb"].eqNullSafe(off["__gb_o"])
    for g in group_cols:
        cond = cond & d[g].eqNullSafe(off[f"__g_{g}"])
    w = Window.partitionBy(*group_cols, "__gb").orderBy(*order_cols)
    return (
        d.join(off, cond)
        .withColumn(out_col, F.col("__goff") + F.row_number().over(w))
        .drop("__gb", "__gb_o", "__goff", *[f"__g_{g}" for g in group_cols])
    )


def grouped_ntile(
    df: DataFrame,
    group_cols: list[str],
    bucket_col,
    order_cols: list,
    n_tiles: int,
    out_col: str = "tile",
) -> DataFrame:
    """Exact `ntile(n) OVER (PARTITION BY group_cols ORDER BY
    order_cols)` on the :func:`grouped_row_number` control plane: the
    per-group global rank comes from bounded (group, bucket) windows,
    the per-group total from the same counts table, and the SQL ntile
    formula (first N mod n tiles take ceil(N/n) rows) is evaluated
    per row from both. Same `bucket_col` contract as
    grouped_row_number. The companion to :func:`distributed_ntile`
    (which handles the UNPARTITIONED global case)."""
    d, off, totals = _grouped_offsets(df, group_cols, bucket_col, MAX_CONTROL_ROWS)
    cond = d["__gb"].eqNullSafe(off["__gb_o"])
    for g in group_cols:
        cond = cond & d[g].eqNullSafe(off[f"__g_{g}"])
    w = Window.partitionBy(*group_cols, "__gb").orderBy(*order_cols)
    ranked = (
        d.join(off, cond)
        .withColumn("__r0", F.col("__goff") + F.row_number().over(w) - 1)
    )
    tcond = None
    for g in group_cols:
        c = ranked[g].eqNullSafe(totals[f"__t_{g}"])
        tcond = c if tcond is None else tcond & c
    q = F.floor(F.col("__n_g") / n_tiles)
    rem = F.col("__n_g") % n_tiles
    cut = rem * (q + 1)
    tile = F.when(
        F.col("__r0") < cut, F.floor(F.col("__r0") / (q + 1)) + 1
    ).otherwise(
        rem + F.floor((F.col("__r0") - cut) / F.greatest(q, F.lit(1))) + 1
    )
    return (
        ranked.join(totals, tcond)
        .withColumn(out_col, tile.cast("int"))
        .drop(
            "__gb", "__gb_o", "__goff", "__r0", "__n_g",
            *[f"__g_{g}" for g in group_cols],
            *[f"__t_{g}" for g in group_cols],
        )
    )


def prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
    bucket_width: int = 100_000,
    super_width: int = 4096,
    max_control_rows: int = MAX_CONTROL_ROWS,
) -> DataFrame:
    """Exact running total `SUM(value_col) OVER (ORDER BY order_col ROWS
    UNBOUNDED PRECEDING)` without the single-task global-sort window.

    Requires `order_col` unique and numeric (the global order is
    strict) and `value_col` integral (long) so partial sums are exact.
    Same control-plane shape as :func:`distributed_ntile`, but the
    bucketing is a PURE FUNCTION of the key (`order_col div
    bucket_width`) — no repartitionByRange sampling, so the passes see
    identical bucket assignments by construction. TWO-LEVEL (r4 verdict
    item 5): the driver never holds per-bucket rows, only
    per-SUPERBUCKET rows (`bucket div super_width`), so its share is
    ~N/(bucket_width·super_width) — at defaults, one driver row per
    ~410M input rows; a 10^12-row corpus collects ~2.4k rows:

    1. per-bucket sums (map-side-combinable hash agg) →
       ~N/bucket_width rows, kept DISTRIBUTED.
    2. per-superbucket sums over (1) → collected + prefix-summed
       driver-side in Spark's own order (`orderBy(...).collect()`),
       guarded by `max_control_rows` as a backstop.
    3. superbucket offsets broadcast back onto (1); a window
       `partitionBy(superbucket).orderBy(bucket)` (each partition
       ≤ super_width rows) turns them into exact per-bucket global
       offsets — still distributed.
    4. bucket offsets join the data on bucket id (no broadcast hint —
       the table is ~N/bucket_width rows, unbounded; AQE broadcasts it
       when genuinely small, and the window in the same stage shares
       the bucket-id shuffle); a per-bucket running-sum window
       (≤ bucket_width rows per partition) finishes. No SinglePartition
       exchange appears anywhere.
    """
    b = (F.col(order_col) / bucket_width).cast("long")
    d = df.withColumn("__pb", b)
    sums = (
        d.groupBy("__pb")
        .agg(F.sum(F.col(value_col)).alias("__s"))
        .withColumn("__sb", (F.col("__pb") / super_width).cast("long"))
        .persist()
    )
    supers = sums.groupBy("__sb").agg(F.sum("__s").alias("__ss"))
    # guard and fetch in ONE job (TakeOrdered of bound+1)
    ordered = (
        supers.orderBy(F.col("__sb").asc()).limit(max_control_rows + 1).collect()
    )
    if len(ordered) > max_control_rows:
        sums.unpersist()
        raise ValueError(
            f"prefix_sum control table exceeds "
            f"max_control_rows={max_control_rows} superbuckets; raise "
            "bucket_width or super_width"
        )
    soffsets, acc = [], 0
    for r in ordered:
        soffsets.append((r["__sb"], acc))
        acc += r["__ss"]
    soff_schema = T.StructType(
        [
            T.StructField("__sb_o", T.LongType()),
            T.StructField("__soffset", T.LongType()),
        ]
    )
    soff = df.sparkSession.createDataFrame(soffsets, soff_schema)
    # bucket-level offsets: superbucket start + sum of EARLIER buckets
    # in the same superbucket (rows (-inf, -1] — empty frame sums NULL,
    # coalesced to 0 for the first bucket).
    wb = (
        Window.partitionBy("__sb")
        .orderBy(F.col("__pb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_off = (
        sums.join(F.broadcast(soff), sums["__sb"] == soff["__sb_o"])
        .withColumn(
            "__offset",
            F.col("__soffset") + F.coalesce(F.sum("__s").over(wb), F.lit(0)),
        )
        .select(F.col("__pb").alias("__pb_o"), "__offset")
        # materialize the (small, ~N/bucket_width-row) offset table now
        # so the cached per-bucket sums can be released before returning
        # the lazy result — otherwise the persist would pin cache for
        # the caller's whole job.
        .localCheckpoint(eager=True)
    )
    sums.unpersist()
    w = (
        Window.partitionBy("__pb")
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.join(bucket_off, d["__pb"] == bucket_off["__pb_o"])
        .withColumn(out_col, F.col("__offset") + F.sum(F.col(value_col)).over(w))
        .drop("__pb", "__pb_o", "__offset")
    )


def select_token_budget(
    df: DataFrame,
    score_col: str,
    id_col: str,
    weight_col: str,
    budget: int,
    out_col: str = "cum_weight",
    bucket_width: int = 100_000,
    max_control_rows: int = MAX_CONTROL_ROWS,
) -> DataFrame:
    """Greedy data selection under a budget: the rows whose running
    `weight_col` total — accumulated in (score_col DESC NULLS LAST,
    id_col ASC) order — stays ≤ `budget`. The training-data shape:
    "take the highest-quality documents until the token budget is hit",
    without the `SUM() OVER (ORDER BY score DESC)` single-task global
    sort.

    Same two-level control plane as :func:`distributed_ntile`
    (`id_col` unique, `weight_col` integral): per-(score, id-bucket)
    weight sums stay distributed; only per-distinct-score totals reach
    the driver (guarded by `max_control_rows`), prefix-summed in
    Spark's own descending order; a bounded window inside each score
    turns them into exact (score, bucket) offsets; the final
    per-composite-key running sum caps every window partition at
    bucket_width rows. Rows are kept whole (a doc is in or out), so
    the selected total may stop short of `budget` by less than one
    row's weight.
    """
    rb = (F.col(id_col) / bucket_width).cast("long")
    d = df.withColumn("__rb", rb)
    sums = (
        d.groupBy(F.col(score_col).alias("__s"), "__rb")
        .agg(F.sum(F.col(weight_col)).alias("__w"))
        .persist()
    )
    per_s = sums.groupBy("__s").agg(F.sum("__w").alias("__sw"))
    # guard and fetch in ONE job: TakeOrdered of bound+1 rows replaces
    # the former separate count() job (per-job overhead is the dominant
    # cost of this control plane on small inputs)
    ordered = (
        per_s.orderBy(F.col("__s").desc_nulls_last())
        .limit(max_control_rows + 1)
        .collect()
    )
    if len(ordered) > max_control_rows:
        sums.unpersist()
        raise ValueError(
            f"select_token_budget control table exceeds "
            f"max_control_rows={max_control_rows} distinct scores; "
            f"score_col={score_col!r} is too high-cardinality — coarsen "
            "it (round/width_bucket) or raise the bound deliberately"
        )
    soffsets, acc = [], 0
    for r in ordered:
        soffsets.append((r["__s"], acc))
        acc += r["__sw"]
    soff_schema = T.StructType(
        [
            T.StructField("__s_o", df.schema[score_col].dataType),
            T.StructField("__soffset", T.LongType()),
        ]
    )
    soff = df.sparkSession.createDataFrame(soffsets, soff_schema)
    ws = (
        Window.partitionBy("__s")
        .orderBy(F.col("__rb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        sums.join(F.broadcast(soff), F.col("__s").eqNullSafe(F.col("__s_o")))
        .withColumn(
            "__offset",
            F.col("__soffset") + F.coalesce(F.sum("__w").over(ws), F.lit(0)),
        )
        .select(F.col("__s"), F.col("__rb").alias("__rb_o"), "__offset")
        .localCheckpoint(eager=True)
    )
    sums.unpersist()
    w = (
        Window.partitionBy(score_col, "__rb")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cond = d[score_col].eqNullSafe(off["__s"]) & (d["__rb"] == off["__rb_o"])
    return (
        d.join(off, cond)
        .withColumn(
            out_col, F.col("__offset") + F.sum(F.col(weight_col)).over(w)
        )
        .where(F.col(out_col) <= budget)
        .drop("__s", "__rb_o", "__rb", "__offset")
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to a skewed `key` distribution on `skewed`.

    The skewed side gets a deterministic per-row salt (xxhash64 of the
    whole row — no RNG, so retried tasks re-salt identically); `other`
    is replicated once per salt value. The join key becomes
    (key, salt): the hot key now spreads over `n_salts` reducers.
    Result is exactly the plain join — salting only reshapes the
    shuffle. Output keeps `skewed`'s join column.

    Only left-shaped joins are valid: the replicated `other` side means
    right/full outer would emit each unmatched right row once PER SALT.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti, got {how!r}; "
            "an outer right side would duplicate unmatched rows per salt"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(n_salts))
    left = skewed.withColumn("__salt", salt)
    right = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumnRenamed(key, f"__{key}_r")
    joined = left.join(
        right,
        (left[key] == right[f"__{key}_r"]) & (left["__salt"] == right["__salt"]),
        how,
    )
    return joined.drop("__salt", f"__{key}_r")


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
) -> DataFrame:
    """Inner-join left rows to right intervals with
    `right_lo <= left_point <= right_hi`, as an equi-join on bin ids.

    Each interval is exploded over the bins it overlaps
    (floor(lo/w) … floor(hi/w)); each point lands in exactly one bin;
    the residual BETWEEN filter removes false candidates within the
    bin. Cost moves from O(N·M) nested-loop comparisons to a hash
    shuffle on bin id + O(candidates). Choose `bin_width` near the
    typical interval length so intervals explode into O(1) bins.

    `left_point`, `right_lo`, `right_hi` must be numeric (cast
    timestamps to epoch seconds first).

    Inner join only: the residual BETWEEN runs as a post-join filter,
    which for any outer variant evaluates to NULL on the null-extended
    rows and silently drops them (outer degenerates to inner), and a
    left row matching several bins without a residual hit would be
    dropped instead of null-extended. Supporting outer correctly means
    folding the BETWEEN into the join condition and deduping per left
    row — not worth it while every caller is inner (same stance as
    salted_join).
    """
    lbin = F.floor(F.col(left_point) / F.lit(bin_width))
    rbins = F.sequence(
        F.floor(F.col(right_lo) / F.lit(bin_width)),
        F.floor(F.col(right_hi) / F.lit(bin_width)),
    )
    lf = left.withColumn("__bin", lbin)
    rf = right.withColumn("__bin", F.explode(rbins))
    out = lf.join(rf, "__bin").where(
        F.col(left_point).between(F.col(right_lo), F.col(right_hi))
    )
    return out.drop("__bin")


def binned_interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
) -> DataFrame:
    """Interval-INTERVAL overlap inner join (`l_lo <= r_hi AND r_lo <= l_hi`)
    as an equi-join on bin ids — the two-sided sibling of
    :func:`binned_range_join` (point-in-interval). Both sides explode
    over the bins their interval covers; overlapping intervals share at
    least one bin; the residual filter removes in-bin false candidates.

    Dedup WITHOUT a distinct shuffle: a pair overlapping across several
    shared bins would be emitted once per bin, so each match is CLAIMED
    by exactly one bin — the later of the two intervals' first bins
    (`greatest(floor(l_lo/w), floor(r_lo/w))`), which any overlapping
    pair provably shares. The standard interval-join trick (same family
    as the DBMS "report in the home cell" spatial-join rule).

    Inner only, numeric bounds, same rationale as binned_range_join.
    """
    lbins = F.sequence(
        F.floor(F.col(left_lo) / F.lit(bin_width)),
        F.floor(F.col(left_hi) / F.lit(bin_width)),
    )
    rbins = F.sequence(
        F.floor(F.col(right_lo) / F.lit(bin_width)),
        F.floor(F.col(right_hi) / F.lit(bin_width)),
    )
    lf = left.withColumn("__bin", F.explode(lbins))
    rf = right.withColumn("__bin", F.explode(rbins))
    claiming = F.greatest(
        F.floor(F.col(left_lo) / F.lit(bin_width)),
        F.floor(F.col(right_lo) / F.lit(bin_width)),
    )
    out = (
        lf.join(rf, "__bin")
        .where(
            (F.col(left_lo) <= F.col(right_hi))
            & (F.col(right_lo) <= F.col(left_hi))
            & (F.col("__bin") == claiming)
        )
    )
    return out.drop("__bin")


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Persist `df` bucketed+sorted by `key` (the pay-once layout), and
    return the re-read table. Joins between tables bucketed the same
    way on `key` plan with no Exchange on either side."""
    # The in-memory catalog forgets tables between sessions but their
    # warehouse directories survive; clear both or saveAsTable raises
    # LOCATION_ALREADY_EXISTS.
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    shutil.rmtree(f"{warehouse}/{table}", ignore_errors=True)
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
    return spark.table(table)


def bucketed_join(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_buckets: int = 8,
    name_prefix: str = "bkt",
) -> DataFrame:
    """Write both sides bucketed on `key`, join the bucketed tables.
    The join itself is shuffle-free; tests assert zero Exchange."""
    lt = write_bucketed(spark, left, f"{name_prefix}_l", key, n_buckets)
    rt = write_bucketed(spark, right, f"{name_prefix}_r", key, n_buckets)
    # merge hint: a small side would otherwise win a broadcast join,
    # which hides the property under test — bucketed SMJ needs neither
    # a shuffle nor a broadcast.
    return lt.join(rt.hint("merge"), key)
