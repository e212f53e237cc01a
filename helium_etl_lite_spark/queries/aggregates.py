"""§2.4.D — aggregations.

Serving-layer analog: the reference's schema exists precisely for
per-gateway/per-block reward sums (rewards_gateway_idx / rewards_block_idx,
migrations/V1__create_rewards.sql:11-12). All aggregates here are
Spark's two-phase hash aggregate: partial (map-side combine) → shuffle
on group keys → final. That partial/final split is what makes group-by
scale linearly at 100 TB.

FP discipline: sums of integral-valued doubles (l_quantity) are exact;
sums of cent-valued doubles are rounded on both sides; variance-family
stats are computed over small-magnitude columns (l_discount) so
rounding at 6 decimals is far outside either engine's error bars.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables


@query(
    "agg_global",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           SUM(l_quantity) AS sum_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def agg_global(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query(
    "agg_groupby_hash",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_hash(spark, sf_dir):
    # TPC-H Q1-shaped pricing summary (per-gateway-sum analog, SURVEY §2.2).
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query("agg_approx_count_distinct")  # rows-only: HLL sketch is engine-specific
def agg_approx_count_distinct(spark, sf_dir):
    # HLL++ sketch: one pass, fixed memory — the 100 TB way to count
    # uniques (exact distinct would shuffle every key).
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_avg_stddev_var",
    oracle="""
    SELECT l_returnflag,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           ROUND(STDDEV_SAMP(l_discount), 6) AS sd_disc,
           ROUND(VAR_SAMP(l_discount), 6) AS var_disc,
           ROUND(AVG(l_quantity), 6) AS avg_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_avg_stddev_var(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_disc"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(
        """
        SELECT r_name, n_name, COUNT(*) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           ROUND(SUM(c_acctbal), 2) AS total_bal, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark, sf_dir):
    t = Tables(spark, sf_dir)
    joined = t.customer.join(
        F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey
    ).join(F.broadcast(t.region), t.nation.n_regionkey == t.region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def agg_having(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
        .where(F.col("n_orders") >= 12)
    )


@query(
    "agg_collect_list_set",
    oracle="""
    SELECT r_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
           COUNT(*) AS n
    FROM region JOIN nation ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def agg_collect_list_set(spark, sf_dir):
    # Array aggregation; emitted as a sorted joined string so the
    # oracle comparison is type- and order-stable.
    t = Tables(spark, sf_dir)
    joined = t.region.join(t.nation, t.nation.n_regionkey == t.region.r_regionkey)
    return joined.groupBy("r_regionkey").agg(
        F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark, sf_dir):
    # Exact percentile: full sort within group — fine on integral
    # quantities; at 100 TB prefer approx_percentile (t-digest).
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "agg_partial_final",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey, COUNT(*) AS cnt, SUM(l_quantity) AS qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_parts, MAX(cnt) AS max_cnt,
           SUM(qty) AS total_qty, MIN(cnt) AS min_cnt
    FROM per_part
    """,
)
def agg_partial_final(spark, sf_dir):
    # Two-level aggregation: the inner group-by runs partial+final hash
    # agg (map-side combine before the shuffle — check the plan for
    # HashAggregate(partial) / HashAggregate(final)); the outer is a
    # global reduce of the small intermediate.
    t = Tables(spark, sf_dir)
    per_part = t.lineitem.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("qty")
    )
    return per_part.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.max("cnt").alias("max_cnt"),
        F.sum("qty").alias("total_qty"),
        F.min("cnt").alias("min_cnt"),
    )


@query("agg_percentile_approx")  # rows-only: sketch quantiles are engine-specific
def agg_percentile_approx(spark, sf_dir):
    # Quantile sketch: fixed memory per group, mergeable across
    # partitions — the scale path where exact percentile would sort
    # every group. Accuracy knob = max relative error inverse.
    # Scalar columns (not one array column) so row canonicalizers can
    # sort/hash the result.
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_price"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95_price"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_argminmax",
    oracle="""
    SELECT o_orderpriority,
           arg_min(o_orderkey, o_totalprice) AS cheapest_order,
           arg_max(o_orderkey, o_totalprice) AS priciest_order,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_argminmax(spark, sf_dir):
    # arg-min/arg-max: the key of the extreme row in one aggregation
    # pass (no join-back, no window) — min_by/max_by are single-pass,
    # partial-aggregable, exactly what the per-gateway "which txn earned
    # most" serving query needs at scale.
    t = Tables(spark, sf_dir)
    return t.orders.groupBy("o_orderpriority").agg(
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
           round(regr_slope(l_extendedprice, l_quantity), 2) AS price_per_qty,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark, sf_dir):
    # Bivariate statistics: correlation, sample covariance and the OLS
    # slope in ONE grouped pass — all three are partial-aggregable
    # moment sketches (sum, sum x, sum y, sum xy, sum x^2), so the
    # map-side combine ships five doubles per group no matter the
    # corpus size. Rounded on both sides: the moment accumulation
    # order differs between engines at the 1e-10 level.
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 2).alias("price_per_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_string_listagg",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_string_listagg(spark, sf_dir):
    # LISTAGG / string_agg: ordered, distinct string concatenation per
    # group. Spark has no ordered string_agg aggregate; the exact
    # equivalent is collect_set → array_sort → concat_ws, which is
    # partial-aggregable (sets merge map-side) and ORDER-DETERMINISTIC
    # because the sort happens after collection — never rely on
    # collect_list input order, which is partition-dependent.
    t = Tables(spark, sf_dir)
    return t.orders.groupBy("o_orderstatus").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderpriority"))).alias(
            "priorities"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
      FROM orders GROUP BY 1, 2),
    ranked AS (
      SELECT o_orderstatus, o_orderpriority, cnt,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY cnt DESC, o_orderpriority ASC) AS rn
      FROM counts)
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           cnt AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark, sf_dir):
    # Deterministic mode: engines disagree on mode() tie-breaking, so
    # the portable form is count + row_number with an explicit
    # (count DESC, value ASC) tie-break — same two-shuffle shape as
    # win_row_number_topk_per_group, and the count agg partials
    # map-side so the window only sees one row per (group, value).
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    counts = t.orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
    )


@query(
    "agg_histogram_width_bucket",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def agg_histogram_width_bucket(spark, sf_dir):
    # Fixed-width value histogram (the quality-score / length
    # distribution every curation report draws): bucket key computed
    # row-side so the agg is an ordinary two-phase hash agg — output
    # bounded by the bucket count, no sort anywhere.
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query("agg_hll_sketch_union")  # rows-only: HLL sketch binary is engine-specific
def agg_hll_sketch_union(spark, sf_dir):
    """Re-aggregatable distinct-count sketches (Spark 4 Datasketches
    HLL): per-event-type user sketches built in one pass, then UNIONED
    into an all-types estimate WITHOUT rescanning the facts — the
    pattern that makes 100 TB rollups maintainable (store sketch bytes
    per partition/day, merge on demand; exact distinct cannot merge).
    Estimates land within HLL error of the exact counts (asserted in
    pytest); lgConfigK=12 ~ 1.6% stderr."""
    t = Tables(spark, sf_dir)
    per_type = t.events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 12).alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    union_all = per_type.agg(
        F.hll_union_agg("sk").alias("sk_u"),
        F.sum("n_rows").alias("n_rows"),
    ).select(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate("sk_u").alias("approx_users"),
        "n_rows",
    )
    each = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("approx_users"),
        "n_rows",
    )
    return each.unionByName(union_all).orderBy("event_type")


# Count-Min sketch geometry for agg_count_min_sketch: depth hash rows x
# width counters. Width 1024 >> the event_type cardinality, so the sf
# fixture estimates are collision-free; the property test exercises the
# collision regime with a tiny width.
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_pairs(col, depth: int = CMS_DEPTH, width: int = CMS_WIDTH):
    """(row, col) cell coordinates of `col` in every sketch row — row
    r's cell is the first 8 hex digits of md5(value|r) mod width.
    Shared by build and probe so both sides address identical cells.
    md5 (not xxhash64) for the same reason as
    text_quality_classifier_hashed: it is bit-identical across engines,
    so the whole sketch is EXACT-oracle-verifiable; a production
    deployment would swap in xxhash64 with identical plan shape."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(col, F.lit(f"|{r}"))), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(width),
                ).alias("col"),
            )
            for r in range(depth)
        ]
    )


@query(
    "agg_count_min_sketch",
    oracle=f"""
    WITH cells AS (
      SELECT event_type, r,
             CAST(('0x' || substr(md5(event_type || '|' || r), 1, 8))
                  AS BIGINT) % 1024 AS col
      FROM events, UNNEST(generate_series(0, 3)) AS g(r)),
    table_ AS (
      SELECT r, col, CAST(COUNT(*) AS BIGINT) AS cell
      FROM cells GROUP BY r, col),
    probe AS (
      SELECT DISTINCT e.event_type, g.r,
             CAST(('0x' || substr(md5(e.event_type || '|' || g.r), 1, 8))
                  AS BIGINT) % 1024 AS col
      FROM events e, UNNEST(generate_series(0, 3)) AS g(r)),
    est AS (
      SELECT p.event_type, MIN(t.cell) AS cms_count
      FROM probe p JOIN table_ t ON p.r = t.r AND p.col = t.col
      GROUP BY p.event_type),
    exact AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM events GROUP BY event_type)
    SELECT e.event_type, est.cms_count, e.exact_count,
           est.cms_count - e.exact_count AS overcount
    FROM est JOIN exact e ON est.event_type = e.event_type
    ORDER BY e.event_type
    """,
)
def agg_count_min_sketch(spark, sf_dir):
    """Count-Min sketch (Cormode-Muthukrishnan 2005) built FROM
    PRIMITIVES as a DataFrame — the frequency twin of the HLL query
    above, and re-aggregatable the same way: the sketch IS a
    (row, col, count) table, so merging two corpora's sketches is a
    union+sum on the cell key, never a fact rescan; at 100 TB you
    store one tiny table per partition/day and sum cells on demand.
    Build = one explode(depth) + hash agg (map-side combinable);
    probe = the same cell addressing on the distinct keys joined
    against the table, MIN over the depth rows. md5 cell addressing is
    bit-identical across engines, so the ENTIRE sketch + estimates
    hash-match a pure SQL oracle; the CMS guarantee (estimate >= exact
    always) is additionally property-tested in the collision regime."""
    t = Tables(spark, sf_dir)
    ev = t.events.select("event_type")
    table = (
        ev.select(F.explode(cms_pairs(F.col("event_type"))).alias("rc"))
        .groupBy("rc.row", "rc.col")
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    probe = (
        ev.distinct()
        .select("event_type", F.explode(cms_pairs(F.col("event_type"))).alias("rc"))
        .select("event_type", "rc.row", "rc.col")
    )
    est = (
        probe.join(table, ["row", "col"])
        .groupBy("event_type")
        .agg(F.min("cell").alias("cms_count"))
    )
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "cms_count",
            "exact_count",
            (F.col("cms_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_bloom_filter_probe",
    oracle="""
    WITH members AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'),
    mbits AS (
      SELECT (CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '#'
                    || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 256) AS pos
      FROM members, unnest([0, 1, 2]) AS t(j)),
    bloom AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS wbits
      FROM mbits GROUP BY pos // 32),
    probe AS (
      SELECT c_custkey AS k,
             (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#'
                    || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 256) AS pos
      FROM customer, unnest([0, 1, 2]) AS t(j)),
    hit AS (
      SELECT p.k,
             SUM(CASE WHEN ((b.wbits >> CAST(p.pos % 32 AS INTEGER)) & 1) = 1
                      THEN 1 ELSE 0 END) AS nset
      FROM probe p LEFT JOIN bloom b ON b.word = p.pos // 32
      GROUP BY p.k),
    maybe AS (SELECT k FROM hit WHERE nset = 3)
    SELECT CAST((SELECT COUNT(*) FROM members) AS BIGINT) AS n_members,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_probes,
           CAST((SELECT COUNT(*) FROM maybe) AS BIGINT) AS n_maybe,
           CAST((SELECT COUNT(*) FROM maybe m
                 LEFT JOIN members t ON m.k = t.k
                 WHERE t.k IS NULL) AS BIGINT) AS n_false_pos,
           CAST((SELECT SUM(wbits * (word + 1)) FROM bloom) AS BIGINT)
             AS bloom_checksum
    """,
)
def agg_bloom_filter_probe(spark, sf_dir):
    """Re-aggregatable Bloom filter, hash-exact cross-engine — the
    membership-sketch sibling of agg_count_min_sketch: m=256 bits as
    8x32-bit words in BIGINTs, k=3 positions per key from md5 prefixes
    (engine-portable, like the CMS cells), BUILD = explode(3) + bit_or
    hash agg (map-side combinable: per-partition blooms OR together,
    which is exactly how a 1000-executor build merges — union is
    bit_or on 8 rows, never a rescan), PROBE = 3-row explode per
    candidate + broadcast join against the 8-word sketch + all-bits-set
    test. Output pins the sketch content (integer checksum), the maybe
    count, and the measured false-positive count against the exact
    membership — the property a Bloom filter exists to trade on.
    Spark's own bloom_filter_agg is engine-opaque; this form is
    cross-engine exact AND demonstrates the same plan shape."""
    t = Tables(spark, sf_dir)

    def pos_at(key_col, j):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(key_col.cast("string"), F.lit(f"#{j}"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 256
        )

    members = (
        t.orders.where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    mbits = members.select(
        F.explode(F.array(*[pos_at(F.col("k"), j) for j in range(3)])).alias("pos")
    )
    bloom = mbits.groupBy((F.col("pos") / 32).cast("long").alias("word")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        ).alias("wbits")
    )
    probe = t.customer.select(
        F.col("c_custkey").alias("k"),
        F.explode(
            F.array(*[pos_at(F.col("c_custkey"), j) for j in range(3)])
        ).alias("pos"),
    )
    hit = (
        probe.join(
            F.broadcast(bloom),
            bloom["word"] == (probe["pos"] / 32).cast("long"),
            "left",
        )
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "(shiftright(wbits, CAST(pos % 32 AS INT)) & 1) = 1"
                    ),
                    1,
                ).otherwise(0)
            ).alias("nset")
        )
    )
    maybe = hit.where(F.col("nset") == 3).select("k")
    false_pos = maybe.join(members, "k", "left_anti")
    stats = (
        members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .crossJoin(t.customer.agg(F.count(F.lit(1)).cast("long").alias("n_probes")))
        .crossJoin(maybe.agg(F.count(F.lit(1)).cast("long").alias("n_maybe")))
        .crossJoin(
            false_pos.agg(F.count(F.lit(1)).cast("long").alias("n_false_pos"))
        )
        .crossJoin(
            bloom.agg(
                F.sum(F.col("wbits") * (F.col("word") + 1)).alias("bloom_checksum")
            )
        )
    )
    return stats


#: the key column and the register count of the portable HLL sketch.
HLL_KEY_COL = "k"
HLL_M = 64


def _hll_registers(keys):
    """Portable HLL registers (bucket, reg) over a distinct-key frame:
    h = md5-prefix int, bucket = h % HLL_M, rho = 1-based position of the
    lowest set bit of h//HLL_M (trailing-zero variant of the rank function
    — same geometric distribution as Flajolet's leading-zero form, and
    exactly computable cross-engine via length(bin(w & -w)); w = 0 maps
    to the max rank 27). MAX per bucket — a two-phase, map-side-
    combinable hash agg, so per-partition register sets merge by MAX
    exactly like per-corpus sketches do."""
    h = F.conv(
        F.substring(F.md5(F.col(HLL_KEY_COL).cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = (h / HLL_M).cast("long")
    rho = F.when(w == 0, F.lit(27)).otherwise(
        F.length(F.conv((w.bitwiseAND(-w)).cast("string"), 10, 2))
    )
    return (
        keys.select((h % HLL_M).alias("bucket"), rho.cast("long").alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("reg"))
    )


@query(
    "agg_hll_sketch_portable",
    oracle=f"""
    WITH members AS (SELECT DISTINCT o_custkey AS k FROM orders),
    h AS (SELECT k,
                 CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))
                      AS BIGINT) AS hv
          FROM members),
    parts AS (SELECT k % 2 AS half, hv % {HLL_M} AS bucket, hv // {HLL_M} AS w FROM h),
    rho AS (SELECT half, bucket,
                   CASE WHEN w = 0 THEN 27
                        ELSE length(bin(w & -w)) END AS r
            FROM parts),
    regs AS (SELECT half, bucket, MAX(r) AS reg FROM rho
             GROUP BY half, bucket),
    unioned AS (SELECT bucket, MAX(reg) AS reg FROM regs GROUP BY bucket),
    full_regs AS (SELECT bucket, MAX(r) AS reg FROM rho GROUP BY bucket)
    SELECT CAST((SELECT COUNT(*) FROM members) AS BIGINT) AS n_true,
           CAST((SELECT COUNT(*) FROM full_regs) AS BIGINT) AS n_registers,
           CAST((SELECT SUM(reg * (bucket + 1)) FROM full_regs) AS BIGINT)
             AS checksum_full,
           CAST((SELECT SUM(reg * (bucket + 1)) FROM unioned) AS BIGINT)
             AS checksum_union
    """,
)
def agg_hll_sketch_portable(spark, sf_dir):
    """HyperLogLog rebuilt from primitives with EXACT cross-engine
    register content — completing the portable sketch family (CMS:
    agg_count_min_sketch, Bloom: agg_bloom_filter_probe, HLL: here;
    Spark's own hll_sketch_agg is engine-opaque, hence the separate
    rows-only agg_hll_sketch_union registration). m=64 registers,
    md5-prefix hash, trailing-zero rank via the integer-only
    length(bin(w & -w)) trick — no FP anywhere, so sketch content AND
    the split-build/merge (two half-corpus sketches MAX-merged ==
    one-pass sketch, the associativity a 1000-executor build relies
    on) are driver-checkable hash-exact. The ESTIMATE stays FP
    (harmonic mean) and is gated in pytest at the standard
    1.04/sqrt(m) error instead."""
    t = Tables(spark, sf_dir)
    members = t.orders.select(F.col("o_custkey").alias("k")).distinct()
    full_regs = _hll_registers(members)
    half_a = _hll_registers(members.where(F.col("k") % 2 == 0))
    half_b = _hll_registers(members.where(F.col("k") % 2 == 1))
    unioned = (
        half_a.unionByName(half_b).groupBy("bucket").agg(F.max("reg").alias("reg"))
    )

    def checksum(regs, name):
        return regs.agg(
            F.sum(F.col("reg") * (F.col("bucket") + 1)).cast("long").alias(name)
        )

    return (
        members.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
        .crossJoin(
            full_regs.agg(F.count(F.lit(1)).cast("long").alias("n_registers"))
        )
        .crossJoin(checksum(full_regs, "checksum_full"))
        .crossJoin(checksum(unioned, "checksum_union"))
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT CASE WHEN value >= 50 THEN user_id END)
                AS BIGINT) AS n_big_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via re-aggregatable bitmaps (Spark 4's
    bitmap_construct_agg family — the ClickHouse/Iceberg segment-
    bitmap pattern): per (group, bucket-of-2^15-ids) bitmaps built by
    a map-side-combinable agg, counts summed per group. Same answer
    as COUNT(DISTINCT) — the oracle — but the bitmap form is what a
    100 TB rollup stores: per-segment bitmaps MERGE by OR (like the
    Bloom/HLL/CMS sketches here, but lossless), so daily partials
    union into monthly exact distincts without ever rescanning facts,
    and two distinct measures ride one pass. The plain
    COUNT(DISTINCT) plan must instead re-shuffle raw (group, id)
    pairs for every merge."""
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(
        """
        SELECT event_type,
               SUM(cnt) AS n_users,
               SUM(cnt_big) AS n_big_users
        FROM (
          SELECT event_type, bitmap_bucket_number(user_id) AS b,
                 bitmap_count(bitmap_construct_agg(
                   bitmap_bit_position(user_id))) AS cnt,
                 bitmap_count(bitmap_construct_agg(
                   CASE WHEN value >= 50
                        THEN bitmap_bit_position(user_id) END)) AS cnt_big
          FROM events
          GROUP BY event_type, bitmap_bucket_number(user_id))
        GROUP BY event_type ORDER BY event_type
        """
    )


@query(
    "agg_bitmap_setops",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                                      THEN user_id END) AS BIGINT) AS n_first,
             CAST(COUNT(DISTINCT CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                                      THEN user_id END) AS BIGINT) AS n_second,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_union
      FROM events GROUP BY event_type)
    SELECT event_type, n_first, n_second, n_union,
           n_first + n_second - n_union AS n_retained,
           n_union - n_second AS n_churned
    FROM base ORDER BY event_type
    """,
)
def agg_bitmap_setops(spark, sf_dir):
    """Period-over-period retention via BITMAP SET ALGEBRA — the merge
    story that makes agg_bitmap_distinct's per-segment bitmaps worth
    storing. Spark 4 ships construct/or_agg/count but no bitmap AND,
    so intersection rides inclusion-exclusion per 2^15-id bucket:
    |A∩B| = |A| + |B| - |A∪B|, where |A∪B| comes from bitmap_or_agg
    MERGING the two periods' already-built bitmaps — at 100 TB the
    periods are daily rollup partials and this outer query never
    rescans facts, exactly how ClickHouse/Iceberg segment bitmaps
    compute retention/churn. All counts are integers; the oracle
    restates the same measures from raw COUNT(DISTINCT ...) — the
    lossless-sketch contract (same answer, mergeable
    representation). Plan: two hash aggs (per-period bitmaps, OR-
    merge), then a bucket-sum — every stage map-side combinable."""
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(
        """
        WITH per AS (
          SELECT event_type,
                 CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN 'a' ELSE 'b' END AS period,
                 bitmap_bucket_number(user_id) AS bkt,
                 bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm,
                 bitmap_count(bitmap_construct_agg(
                   bitmap_bit_position(user_id))) AS cnt
          FROM events GROUP BY 1, 2, 3),
        merged AS (
          SELECT event_type, bkt,
                 bitmap_count(bitmap_or_agg(bm)) AS cnt_u,
                 SUM(CASE WHEN period = 'a' THEN cnt ELSE 0 END) AS cnt_a,
                 SUM(CASE WHEN period = 'b' THEN cnt ELSE 0 END) AS cnt_b
          FROM per GROUP BY event_type, bkt)
        SELECT event_type,
               SUM(cnt_a) AS n_first,
               SUM(cnt_b) AS n_second,
               SUM(cnt_u) AS n_union,
               SUM(cnt_a + cnt_b - cnt_u) AS n_retained,
               SUM(cnt_u - cnt_b) AS n_churned
        FROM merged GROUP BY event_type ORDER BY event_type
        """
    )


_QSKETCH_BINS = 32
_QSKETCH_QS = (0.25, 0.5, 0.75, 0.9, 0.99)

_QSKETCH_SQL = f"""
WITH bounds AS (
  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
  FROM lineitem),
binned AS (
  SELECT l_returnflag AS grp,
         CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
              ELSE LEAST({_QSKETCH_BINS - 1},
               CAST(FLOOR((l_extendedprice - b.lo)
                          / ((b.hi - b.lo) / CAST({_QSKETCH_BINS} AS DOUBLE)))
                    AS BIGINT)) END AS bin
  FROM lineitem, bounds b),
sketch AS (
  SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM binned GROUP BY grp, bin),
merged AS (
  SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM sketch GROUP BY bin),
cum AS (
  SELECT bin, cnt,
         CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (ORDER BY bin) - cnt AS BIGINT) AS cum_before,
         CAST(SUM(cnt) OVER () AS BIGINT) AS total
  FROM merged),
qs AS (
  SELECT CAST(q AS DOUBLE) AS q
  FROM (VALUES {", ".join(f"({q})" for q in _QSKETCH_QS)}) AS v(q)),
hit AS (
  SELECT qs.q, MIN(c.bin) AS qbin
  FROM qs JOIN cum c ON c.cum >= qs.q * c.total
  GROUP BY qs.q)
SELECT h.q, h.qbin, c.cnt AS bin_count,
       b.lo + ((b.hi - b.lo) / CAST({_QSKETCH_BINS} AS DOUBLE))
            * (c.bin + (h.q * c.total - c.cum_before) / c.cnt) AS est
FROM hit h JOIN cum c ON h.qbin = c.bin, bounds b
ORDER BY h.q
"""


@query("agg_quantile_sketch_portable", oracle=_QSKETCH_SQL)
def agg_quantile_sketch_portable(spark, sf_dir):
    """Mergeable equi-width HISTOGRAM QUANTILE sketch, hash-exact
    cross-engine — the quantile member of the portable-sketch family
    (CMS aggregates.py:536, HLL :750, Bloom :616, bitmaps :797): the
    sketch IS a (bin, count) table, so per-group/per-day partials
    MERGE by summing counts per bin (the `sketch` -> `merged` step
    below is exactly that merge), never a fact rescan — at 100 TB you
    store 32 rows per segment and answer any quantile later. Estimate
    = linear interpolation inside the first bin whose cumulative count
    reaches q*N (the classic equi-width histogram estimator; error is
    bounded by one bin width, property-tested vs the true quantile).

    Exactness: bin edges, the cumulative counts and the interpolation
    are each a SINGLE IEEE scalar expression over identical inputs
    ((hi-lo)/32 division, floor, one multiply-add chain), so Spark and
    DuckDB produce bit-identical doubles — no sum-of-doubles anywhere
    (all accumulation is on BIGINT counts). Plan: one 1-row bounds agg
    broadcast as scalar glue, two map-side-combinable hash aggs, then
    windows over a <=32-row bounded control table (not a scale risk:
    partition size is fixed by the bin count, independent of data).
    percentile_approx (agg_percentile_approx, :278) is the built-in
    engine-specific twin; this one is engine-portable and mergeable
    with an EXACT oracle."""
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(_QSKETCH_SQL)


_QSG_BINS = 32
_QSG_QS = (0.5, 0.95, 0.99)

_QSG_SQL = f"""
WITH bounds AS (
  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
  FROM events GROUP BY event_type),
binned AS (
  SELECT e.event_type,
         CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
              ELSE LEAST({_QSG_BINS - 1},
               CAST(FLOOR((e.value - b.lo)
                          / ((b.hi - b.lo) / CAST({_QSG_BINS} AS DOUBLE)))
                    AS BIGINT)) END AS bin
  FROM events e JOIN bounds b ON e.event_type = b.event_type),
sketch AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM binned GROUP BY event_type, bin),
cum AS (
  SELECT event_type, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) - cnt
              AS BIGINT) AS cum_before,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM sketch),
qs AS (
  SELECT CAST(q AS DOUBLE) AS q
  FROM (VALUES {", ".join(f"({q})" for q in _QSG_QS)}) AS v(q)),
hit AS (
  SELECT c.event_type, qs.q, MIN(c.bin) AS qbin
  FROM qs JOIN cum c ON c.cum >= qs.q * c.total
  GROUP BY c.event_type, qs.q)
SELECT h.event_type, h.q, h.qbin, c.cnt AS bin_count,
       b.lo + ((b.hi - b.lo) / CAST({_QSG_BINS} AS DOUBLE))
            * (c.bin + (h.q * c.total - c.cum_before) / c.cnt) AS est
FROM hit h
JOIN cum c ON h.event_type = c.event_type AND h.qbin = c.bin
JOIN bounds b ON h.event_type = b.event_type
ORDER BY h.event_type, h.q
"""


@query("agg_quantile_sketch_grouped", oracle=_QSG_SQL)
def agg_quantile_sketch_grouped(spark, sf_dir):
    """PER-GROUP mergeable histogram quantiles — the ops-dashboard
    form of agg_quantile_sketch_portable (p50/p95/p99 of `value` per
    event_type): per-group equi-width bins from per-group min/max, the
    same single-IEEE-expression interpolation, hash-exact for the same
    reasons. The stored artifact is (group, bin, count) — per-segment
    partials still merge by summing counts per (group, bin), so a
    100 TB deployment keeps 32 rows per group per day and answers any
    per-group percentile later. Plan: one bounds hash agg + one
    (group, bin) hash agg over the facts (both map-side combinable);
    cumulative windows partition on (event_type) over the <=32-row
    per-group bin tables — bounded control plane, not a
    low-cardinality corpus window (the partition size is fixed by the
    bin count regardless of data volume)."""
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(_QSG_SQL)


_CHI2_SQL = """
WITH cells AS (
  SELECT event_type,
         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'early'
              ELSE 'late' END AS period,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT event_type, period, obs,
         CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS row_t,
         CAST(SUM(obs) OVER (PARTITION BY period) AS BIGINT) AS col_t,
         CAST(SUM(obs) OVER () AS BIGINT) AS n
  FROM cells),
terms AS (
  SELECT event_type, period, obs,
         round((obs - (CAST(row_t AS DOUBLE) * col_t) / n)
               * (obs - (CAST(row_t AS DOUBLE) * col_t) / n)
               / ((CAST(row_t AS DOUBLE) * col_t) / n) * 1000000.0)
           AS term_q
  FROM tot)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(term_q) AS BIGINT) AS chi2_q6
FROM terms
"""


@query("agg_chi_square_independence", oracle=_CHI2_SQL)
def agg_chi_square_independence(spark, sf_dir):
    """CHI-SQUARE independence test statistic over a contingency table
    (event_type x early/late period) — the statistical-testing class:
    is event mix independent of time period? Every warehouse A/B
    readout and drift monitor computes this shape.

    Exactness: the classic sum((obs-exp)^2/exp) is a sum of DOUBLES —
    order-dependent, so never hash-exact as-is. Each cell's term is a
    fixed IEEE expression over integer counts (engine-identical), so
    ROUNDING the term to 1e-6 pins it to an integer-valued double and
    the SUM becomes order-free exact (the integer-cents discipline
    applied to a test statistic; chi2_q6 = statistic * 1e6). Plan: one
    hash agg on the (type, period) cells, then all margins/terms ride
    windows over the #types*2-row control table — the fact stream is
    touched exactly once."""
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(_CHI2_SQL)


_KS_BINS = 64

_KS_SQL = f"""
WITH bounds AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
binned AS (
  SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'a'
              ELSE 'b' END AS grp,
         CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
              ELSE LEAST({_KS_BINS - 1},
               CAST(FLOOR((e.value - b.lo)
                          / ((b.hi - b.lo) / CAST({_KS_BINS} AS DOUBLE)))
                    AS BIGINT)) END AS bin
  FROM events e, bounds b),
cells AS (
  SELECT bin,
         CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM binned GROUP BY bin),
cum AS (
  SELECT bin,
         CAST(SUM(n_a) OVER (ORDER BY bin) AS BIGINT) AS cum_a,
         CAST(SUM(n_b) OVER (ORDER BY bin) AS BIGINT) AS cum_b,
         CAST(SUM(n_a) OVER () AS BIGINT) AS tot_a,
         CAST(SUM(n_b) OVER () AS BIGINT) AS tot_b
  FROM cells)
SELECT CAST(MAX(ABS(round((CAST(cum_a AS DOUBLE) / tot_a
                           - CAST(cum_b AS DOUBLE) / tot_b)
                          * 1000000000.0))) AS BIGINT) AS ks_d_q9,
       CAST(MAX(tot_a) AS BIGINT) AS n_early,
       CAST(MAX(tot_b) AS BIGINT) AS n_late
FROM cum
"""


@query("agg_ks_drift_binned", oracle=_KS_SQL)
def agg_ks_drift_binned(spark, sf_dir):
    """Two-sample KOLMOGOROV-SMIRNOV drift statistic on BINNED CDFs —
    did the value distribution shift between the early and late halves
    of the stream? The distribution-drift monitor every feature/
    embedding pipeline runs, next to agg_chi_square_independence's
    categorical test.

    Scale discipline: the textbook KS sorts the pooled sample — a
    global ORDER BY window, i.e. a SinglePartition scale-killer. The
    binned form IS the production statistic (fixed 64-bin grid from
    the global bounds): ONE hash agg on the fact stream, then the
    cumulative CDFs ride a window over the <=64-row bin table —
    bounded control plane, identical economics to the quantile sketch.
    Exactness: per-bin CDF ratios are single IEEE divisions
    (engine-identical), their difference is exact, and rounding to
    1e-9 before MAX pins the result to an integer — no double sums
    anywhere (counts are BIGINT), no overflow at any corpus size
    (unlike the integer cross-multiplication cum_a*tot_b, which
    leaves int64 past ~1e9 rows per side)."""
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(_KS_SQL)


_KMV_K = 64
_KMV_EST_NUM = (_KMV_K - 1) * (1 << 32)  # (k-1) * H, H = md5-32 range


@query(
    "agg_kmv_theta_sketch_portable",
    oracle=f"""
    WITH s AS (
      SELECT 'a' AS sid, l_partkey AS key FROM lineitem WHERE l_quantity <= 5
      UNION ALL
      SELECT 'b' AS sid, l_partkey AS key FROM lineitem WHERE l_quantity >= 45),
    h AS (SELECT DISTINCT sid,
                 CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 8))
                      AS BIGINT) AS h
          FROM s),
    r AS (SELECT sid, h,
                 row_number() OVER (PARTITION BY sid ORDER BY h) AS rn
          FROM h),
    sk AS (SELECT sid, list_sort(list(h)) AS ks,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM r WHERE rn <= {_KMV_K} GROUP BY sid),
    one AS (SELECT
      (SELECT ks FROM sk WHERE sid = 'a') AS ka,
      (SELECT n  FROM sk WHERE sid = 'a') AS n_a,
      (SELECT ks FROM sk WHERE sid = 'b') AS kb,
      (SELECT n  FROM sk WHERE sid = 'b') AS n_b,
      (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem
       WHERE l_quantity <= 5) AS exact_a,
      (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem
       WHERE l_quantity >= 45) AS exact_b,
      (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem
       WHERE l_quantity <= 5 OR l_quantity >= 45) AS exact_union),
    u AS (SELECT *,
                 list_sort(list_distinct(ka || kb))[1 : {_KMV_K}] AS ku,
                 CAST(len(list_distinct(ka || kb)) AS BIGINT) AS n_pool
          FROM one),
    alg AS (SELECT *,
                   ka[n_a] AS kth_a, kb[n_b] AS kth_b,
                   ku[len(ku)] AS kth_u,
                   CAST(len(list_filter(ku, x ->
                        list_contains(ka, x) AND list_contains(kb, x)))
                        AS BIGINT) AS c_both
            FROM u)
    SELECT CAST({_KMV_K} AS BIGINT) AS k, n_a, n_b, kth_a, kth_b, kth_u,
           CASE WHEN n_a < {_KMV_K} THEN CAST(n_a AS DOUBLE)
                ELSE round({_KMV_EST_NUM} / kth_a, 6) END AS est_a,
           CASE WHEN n_b < {_KMV_K} THEN CAST(n_b AS DOUBLE)
                ELSE round({_KMV_EST_NUM} / kth_b, 6) END AS est_b,
           CASE WHEN n_pool < {_KMV_K} THEN CAST(n_pool AS DOUBLE)
                ELSE round({_KMV_EST_NUM} / kth_u, 6) END AS est_union,
           CASE WHEN n_pool < {_KMV_K} THEN CAST(c_both AS DOUBLE)
                ELSE round((CAST(c_both AS DOUBLE)
                            * ({_KMV_EST_NUM} / kth_u)) / {_KMV_K}, 6)
           END AS est_intersect,
           exact_a, exact_b, exact_union
    FROM alg
    """,
)
def agg_kmv_theta_sketch_portable(spark, sf_dir):
    """KMV / theta sketch (Bar-Yossef 2002; the Apache DataSketches
    theta family) with SET-OPERATION estimates — the sketch class that
    completes the re-aggregatable family (CMS = frequency, Bloom =
    membership, HLL = distinct, quantile hist = order stats, bitmap =
    exact sets): k MINIMUM hash VALUES per set. What KMV adds over
    HLL: sketch INTERSECTION estimates — union of sketches is the
    sketch of the union (the k smallest of A∪B all live in the two
    k-smallest lists, so the merge is a row-local array merge on two
    64-element lists — the 1000-executor re-aggregation argument),
    and intersection rides inclusion-fraction on the union sketch:
    est∩ = (|Ku ∩ Ka ∩ Kb| / k) · est(A∪B). Two part-key sets (light
    vs heavy order lines) with measured partial overlap exercise the
    full algebra; exact distinct counts ride alongside as reference
    columns, so the driver verdict pins estimator AND ground truth.

    PORTABLE-EXACT: md5-32 hashes, integer k-smallest selection with
    deterministic ordering, single-row IEEE estimate arithmetic in a
    pinned parenthesization, round-6 on both engines.

    Scale shape: one scan feeding both filters, one DISTINCT on
    (sid, hash), per-set k-smallest via a ranked window that prunes
    MAP-SIDE (WindowGroupLimit: each task forwards at most k rows per
    set — the top-k discipline of join_lateral_topk applied to sketch
    building); everything after is algebra on two 64-element arrays
    in a single 1-row frame (broadcast-scalar territory)."""
    t = Tables(spark, sf_dir)
    from pyspark.sql import Window as W

    k = _KMV_K
    li = t.lineitem
    # r14 (guide §2.4 / §1.2): the two set filters are DISJOINT
    # (quantity <= 5 vs >= 45), so the oracle's UNION ALL collapses to
    # ONE scan with a conditional sid — identical rows, one lineitem
    # pass instead of two.
    s = li.where(
        (F.col("l_quantity") <= 5) | (F.col("l_quantity") >= 45)
    ).select(
        F.when(F.col("l_quantity") <= 5, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("sid"),
        F.col("l_partkey").alias("key"),
    )
    h = s.select(
        "sid",
        F.conv(F.substring(F.md5(F.col("key").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    w = W.partitionBy("sid").orderBy("h")
    topk = h.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    sk = topk.groupBy("sid").agg(
        F.sort_array(F.collect_list("h")).alias("ks"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    one = sk.groupBy().agg(
        F.max(F.when(F.col("sid") == "a", F.col("ks"))).alias("ka"),
        F.max(F.when(F.col("sid") == "a", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("sid") == "b", F.col("ks"))).alias("kb"),
        F.max(F.when(F.col("sid") == "b", F.col("n"))).alias("n_b"),
    )
    # r14: the three exact reference counts ride ONE lineitem pass as
    # conditional countDistincts (null keys don't count) instead of
    # three separate scan+agg branches — 1 scan instead of 3, and one
    # broadcast crossJoin instead of three.
    exacts = li.where(
        (F.col("l_quantity") <= 5) | (F.col("l_quantity") >= 45)
    ).agg(
        F.countDistinct(F.when(F.col("l_quantity") <= 5, F.col("l_partkey")))
        .cast("long")
        .alias("exact_a"),
        F.countDistinct(F.when(F.col("l_quantity") >= 45, F.col("l_partkey")))
        .cast("long")
        .alias("exact_b"),
        F.countDistinct("l_partkey").cast("long").alias("exact_union"),
    )
    pool = F.array_sort(F.array_distinct(F.concat(F.col("ka"), F.col("kb"))))
    u = (
        one.crossJoin(F.broadcast(exacts))
        .withColumn("ku", F.slice(pool, 1, k))
        .withColumn("n_pool", F.size(pool).cast("long"))
    )
    alg = u.withColumn(
        "kth_a", F.element_at("ka", F.col("n_a").cast("int"))
    ).withColumn(
        "kth_b", F.element_at("kb", F.col("n_b").cast("int"))
    ).withColumn(
        "kth_u", F.element_at("ku", F.size("ku"))
    ).withColumn(
        "c_both",
        F.size(
            F.filter(
                F.col("ku"),
                lambda x: F.array_contains(F.col("ka"), x)
                & F.array_contains(F.col("kb"), x),
            )
        ).cast("long"),
    )
    num = F.lit(_KMV_EST_NUM)
    est = lambda n, kth: F.when(  # noqa: E731
        n < k, n.cast("double")
    ).otherwise(F.round(num / kth, 6))
    return alg.select(
        F.lit(k).cast("long").alias("k"),
        "n_a",
        "n_b",
        "kth_a",
        "kth_b",
        "kth_u",
        est(F.col("n_a"), F.col("kth_a")).alias("est_a"),
        est(F.col("n_b"), F.col("kth_b")).alias("est_b"),
        est(F.col("n_pool"), F.col("kth_u")).alias("est_union"),
        F.when(F.col("n_pool") < k, F.col("c_both").cast("double"))
        .otherwise(
            F.round(
                (F.col("c_both").cast("double") * (num / F.col("kth_u"))) / k, 6
            )
        )
        .alias("est_intersect"),
        "exact_a",
        "exact_b",
        "exact_union",
    )


_KMV_H = 1 << 32  # md5-32 hash range (theta scale)


@query(
    "agg_kmv_theta_anotb_portable",
    oracle=f"""
    WITH s AS (
      SELECT 'a' AS sid, l_partkey AS key FROM lineitem WHERE l_quantity <= 5
      UNION ALL
      SELECT 'b' AS sid, l_partkey AS key FROM lineitem WHERE l_quantity >= 45),
    h AS (SELECT DISTINCT sid,
                 CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 8))
                      AS BIGINT) AS h
          FROM s),
    r AS (SELECT sid, h,
                 row_number() OVER (PARTITION BY sid ORDER BY h) AS rn
          FROM h),
    sk AS (SELECT sid, list_sort(list(h)) AS ks,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM r WHERE rn <= {_KMV_K} GROUP BY sid),
    one AS (SELECT
      (SELECT ks FROM sk WHERE sid = 'a') AS ka,
      (SELECT n  FROM sk WHERE sid = 'a') AS n_a,
      (SELECT ks FROM sk WHERE sid = 'b') AS kb,
      (SELECT n  FROM sk WHERE sid = 'b') AS n_b,
      (SELECT CAST(COUNT(DISTINCT a.l_partkey) AS BIGINT)
       FROM lineitem a WHERE a.l_quantity <= 5
         AND a.l_partkey NOT IN (SELECT l_partkey FROM lineitem
                                 WHERE l_quantity >= 45)) AS exact_anotb),
    th AS (SELECT *,
                  CASE WHEN n_a < {_KMV_K} THEN {_KMV_H}
                       ELSE ka[n_a] END AS theta_a,
                  CASE WHEN n_b < {_KMV_K} THEN {_KMV_H}
                       ELSE kb[n_b] END AS theta_b
           FROM one),
    alg AS (SELECT *,
                   least(theta_a, theta_b) AS theta,
                   list_filter(ka, x -> x < least(theta_a, theta_b)
                                    AND NOT list_contains(kb, x)) AS kd
            FROM th)
    SELECT CAST({_KMV_K} AS BIGINT) AS k, n_a, n_b, theta,
           CAST(len(kd) AS BIGINT) AS n_retained,
           round(CAST(len(kd) AS DOUBLE)
                 * (CAST({_KMV_H} AS DOUBLE) / theta), 6) AS est_anotb,
           exact_anotb
    FROM alg
    """,
)
def agg_kmv_theta_anotb_portable(spark, sf_dir):
    """KMV / theta A-NOT-B (the DataSketches AnotB operation) —
    completes the sketch set algebra started by
    agg_kmv_theta_sketch_portable (union, intersection), via the
    STANDARD theta-sketch difference: derive theta =
    min(theta_a, theta_b) (a sketch holding fewer than k keys is
    exhaustive, so its theta is the full hash range H), keep the Ka
    entries below theta that are absent from Kb, and estimate
    |A \\ B| = |retained| · (H / theta).  Below min-theta BOTH
    sketches are complete samples of their sets, so membership tests
    against Kb are never wrong there — this removes the one-sided
    bias a theta_a-scaled filter carries when theta_b < theta_a
    (r9 ADVICE item 3).  When both sides are exhaustive theta = H and
    the estimate degenerates to the exact retained count.  One
    row-local list_filter over two 64-element arrays — the sketch
    never rescans either fact set, the re-aggregation property that
    makes theta sketches the warehouse-standard distinct-set algebra.
    Exact ground truth (anti-join over the base table) rides
    alongside.  Same portable-exact discipline as the sketch query:
    md5-32 hashes, integer theta comparisons, IEEE-pinned
    parenthesization, round-6."""
    from pyspark.sql import Window as W

    k = _KMV_K
    t = Tables(spark, sf_dir)
    li = t.lineitem
    # r14 (guide §2.4): disjoint set filters -> ONE scan with a
    # conditional sid (the sketch-query fold); identical rows to the
    # oracle's UNION ALL.
    s = li.where(
        (F.col("l_quantity") <= 5) | (F.col("l_quantity") >= 45)
    ).select(
        F.when(F.col("l_quantity") <= 5, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("sid"),
        F.col("l_partkey").alias("key"),
    )
    h = s.select(
        "sid",
        F.conv(F.substring(F.md5(F.col("key").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    w = W.partitionBy("sid").orderBy("h")
    topk = h.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    sk = topk.groupBy("sid").agg(
        F.sort_array(F.collect_list("h")).alias("ks"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    one = sk.groupBy().agg(
        F.max(F.when(F.col("sid") == "a", F.col("ks"))).alias("ka"),
        F.max(F.when(F.col("sid") == "a", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("sid") == "b", F.col("ks"))).alias("kb"),
        F.max(F.when(F.col("sid") == "b", F.col("n"))).alias("n_b"),
    )
    # r14: exact |A \ B| in ONE scan — per-key membership flags via a
    # partial-aggregable groupBy instead of two distinct branches and
    # an anti-join (4 lineitem passes -> this one + the sketch's one).
    exact = (
        li.where((F.col("l_quantity") <= 5) | (F.col("l_quantity") >= 45))
        .groupBy("l_partkey")
        .agg(
            F.max((F.col("l_quantity") <= 5).cast("int")).alias("__in_a"),
            F.max((F.col("l_quantity") >= 45).cast("int")).alias("__in_b"),
        )
        .where((F.col("__in_a") == 1) & (F.col("__in_b") == 0))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_anotb"))
    )
    big = F.lit(_KMV_H).cast("long")
    alg = (
        one.crossJoin(F.broadcast(exact))
        .withColumn(
            "theta_a",
            F.when(F.col("n_a") < k, big).otherwise(
                F.element_at("ka", F.col("n_a").cast("int"))
            ),
        )
        .withColumn(
            "theta_b",
            F.when(F.col("n_b") < k, big).otherwise(
                F.element_at("kb", F.col("n_b").cast("int"))
            ),
        )
        .withColumn("theta", F.least("theta_a", "theta_b"))
        .withColumn(
            "kd",
            F.filter(
                F.col("ka"),
                lambda x: (x < F.col("theta"))
                & ~F.array_contains(F.col("kb"), x),
            ),
        )
    )
    return alg.select(
        F.lit(k).cast("long").alias("k"),
        "n_a",
        "n_b",
        "theta",
        F.size("kd").cast("long").alias("n_retained"),
        F.round(
            F.size("kd").cast("double")
            * (F.lit(float(_KMV_H)) / F.col("theta")),
            6,
        ).alias("est_anotb"),
        "exact_anotb",
    )
