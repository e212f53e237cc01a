"""§2.4.C — joins.

ETL-layer analog: the reference's only join-like operator is the
Filters-mode semi-join (reference src/block_processor.rs:80-121, lists
built in src/filter.rs:26-38) with first-match-wins semantics
(`continue 'rloop` at :93/:113) — expressed here as left_semi, and its
complement as left_anti. The serving-layer schema implies the rest
(migrations/V1__create_rewards.sql:11-12, V3:46-47).

Scale notes: dims (region/nation/supplier) are broadcast — no shuffle;
fact-fact joins shuffle on the join key and rely on AQE for skew. The
theta join is banded so it does not degenerate into a full cross
product at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.asof_join import asof_join
from ..registry import query
from ..tables import Tables


@query(
    "join_inner_equi",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_broadcast_dim",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_broadcast_dim(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # Explicit broadcast: dimension ships to every executor, zero shuffle
    # — the distributed analog of the reference loading its small filters
    # table into memory once (src/follower.rs:49-57).
    return t.nation.join(
        F.broadcast(t.region), t.nation.n_regionkey == t.region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")


@query(
    "join_sortmerge_large",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, o_orderdate, o_totalprice
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'O'
    """,
)
def join_sortmerge_large(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # Two large sides: both shuffle on the key. The merge hint pins the
    # strategy this query declares (at test scale the filtered orders
    # side would fit under the broadcast ceiling and hide the SMJ).
    o = t.orders.where(F.col("o_orderstatus") == "O").hint("merge")
    return t.lineitem.join(o, t.lineitem.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_orderdate", "o_totalprice"
    )


@query(
    "join_left_right_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders
      ON o_custkey = c_custkey AND o_totalprice > 250000
    """,
)
def join_left_right_outer(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # Left outer with a join-side predicate (kept in the ON clause so
    # non-matching customers survive). right-outer is the mirrored plan;
    # Spark canonicalizes one into the other.
    return t.customer.join(
        t.orders,
        (t.orders.o_custkey == t.customer.c_custkey) & (t.orders.o_totalprice > 250000),
        "left",
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_full_outer",
    oracle="""
    WITH s AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'),
         e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT s.user_id AS signup_user, e.user_id AS error_user
    FROM s FULL OUTER JOIN e ON s.user_id = e.user_id
    """,
)
def join_full_outer(spark, sf_dir):
    t = Tables(spark, sf_dir)
    ev = t.events
    s = (
        ev.where(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("signup_user"))
        .distinct()
    )
    e = (
        ev.where(F.col("event_type") == "error")
        .select(F.col("user_id").alias("error_user"))
        .distinct()
    )
    return s.join(e, s.signup_user == e.error_user, "full")


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
)
def join_left_semi(spark, sf_dir):
    # E11: the Filters-mode membership probe
    # (reference src/block_processor.rs:80-121). Semi-join emits each
    # left row at most once — same first-match-wins semantics as the
    # reference's `continue 'rloop`.
    t = Tables(spark, sf_dir)
    big = t.orders.where(F.col("o_totalprice") > 200000)
    return t.customer.join(
        big, t.customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def join_left_anti(spark, sf_dir):
    # Filters-mode complement: rows with NO match in the probe set.
    t = Tables(spark, sf_dir)
    jumbo = t.orders.where(F.col("o_totalprice") > 400000)
    return t.customer.join(
        jumbo, t.customer.c_custkey == jumbo.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, p_partkey, s_acctbal, p_retailprice
    FROM supplier JOIN part
      ON s_acctbal >= p_retailprice AND s_acctbal < p_retailprice + 1100
    """,
)
def join_theta_range(spark, sf_dir):
    # Banded non-equi join, executed as a BINNED equi-join
    # (operators/scale.py binned_range_join) — the production path, not
    # a demonstration BNLJ. The former form force-broadcast `part` for a
    # nested loop; `part` grows with sf, so at 100x that broadcast OOMs
    # instead of degrading. Binning on floor(value/band_width) turns the
    # band predicate into a hash-shuffled equi-key (each interval spans
    # <= 2 bins at bin_width == band width); the residual filter
    # restores the exact half-open band [lo, lo+1100).
    from ..operators.scale import binned_range_join

    t = Tables(spark, sf_dir)
    pts = t.supplier.select("s_suppkey", "s_acctbal")
    windows = t.part.select(
        "p_partkey",
        "p_retailprice",
        F.col("p_retailprice").alias("lo"),
        (F.col("p_retailprice") + 1100).alias("hi"),
    )
    pairs = binned_range_join(pts, windows, "s_acctbal", "lo", "hi", bin_width=1100.0)
    # binned_range_join's residual is the closed [lo, hi]; the declared
    # band is half-open, so cut the hi boundary strictly.
    return pairs.where(F.col("s_acctbal") < F.col("hi")).select(
        "s_suppkey", "p_partkey", "s_acctbal", "p_retailprice"
    )


@query(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.region.crossJoin(t.nation).select("r_name", "n_name")


@query(
    "join_asof_event_order",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
             ) AS rn
      FROM events e
      LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, ts, user_id, o_orderkey, o_orderdate
    FROM ranked WHERE rn = 1
    """,
)
def join_asof_event_order(spark, sf_dir):
    # As-of join: latest order at-or-before each event, per user. The
    # merge variant (union + sort + carry-forward) — O(L+R) rows, one
    # shuffle, no per-key pair blowup (operators/asof_join.py).
    from ..operators.asof_join import asof_join_union

    t = Tables(spark, sf_dir)
    out = asof_join_union(
        t.events.select("event_id", "ts", "user_id"),
        t.orders.select("o_custkey", "o_orderkey", "o_orderdate"),
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_tiebreak="o_orderkey",
    )
    return out.select("event_id", "ts", "user_id", "o_orderkey", "o_orderdate")


@query(
    "join_multiway_star",
    oracle="""
    SELECT r_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_multiway_star(spark, sf_dir):
    # 5-table star join: fact joins shuffle once on orderkey/custkey,
    # nation/region broadcast. This is the flagship's core.
    #
    # Manual partial-agg pushdown, applied at EVERY join level —
    # Catalyst doesn't push aggregates through joins, so do it by hand;
    # sums re-associate exactly, so results are identical:
    #   1. lineitem → one row per orderkey before the orders join
    #      (shrinks the big shuffle by the lineitems-per-order factor).
    #   2. after the orders join → one row per custkey. groupBy(custkey)
    #      partial-aggregates map-side and its output is already hash-
    #      partitioned on custkey, which the customer join then reuses —
    #      no extra exchange, far fewer shuffled bytes.
    #   3. after the customer join → one row per nationkey, so the
    #      broadcast dim joins and the final agg touch ~#nations rows,
    #      not #orders. At 1000 executors the dims' broadcast cost is
    #      unchanged but the probe work drops to noise.
    t = Tables(spark, sf_dir)
    li = t.lineitem.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("order_rev"),
        F.count(F.lit(1)).alias("order_items"),
    )
    by_cust = (
        li.join(t.orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum("order_rev").alias("cust_rev"), F.sum("order_items").alias("cust_items"))
    )
    by_nation = (
        by_cust.join(
            t.customer.select("c_custkey", "c_nationkey"),
            by_cust.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(F.sum("cust_rev").alias("nat_rev"), F.sum("cust_items").alias("nat_items"))
    )
    return (
        by_nation.join(F.broadcast(t.nation), by_nation.c_nationkey == t.nation.n_nationkey)
        .join(F.broadcast(t.region), t.nation.n_regionkey == t.region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("nat_rev"), 2).alias("revenue"),
            F.sum("nat_items").alias("n_items"),
        )
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(SUM(o_totalprice), 2) AS order_total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
    """,
)
def join_skew_salted(spark, sf_dir):
    # Salted fact-fact join: same result as the plain equi-join (the
    # oracle IS the plain join) — salting only reshapes the shuffle so
    # a hot orderkey spreads over n_salts reducers.
    from ..operators.scale import salted_join

    t = Tables(spark, sf_dir)
    joined = salted_join(
        t.lineitem.withColumnRenamed("l_orderkey", "okey"),
        t.orders.withColumnRenamed("o_orderkey", "okey"),
        "okey",
        n_salts=8,
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.round(F.sum("o_totalprice"), 2).alias("order_total"),
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT s.event_id AS signup_id,
           COUNT(*) AS n_in_window,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e
    JOIN (SELECT event_id, ts FROM events WHERE event_type = 'signup') s
      ON e.ts >= s.ts AND e.ts <= s.ts + INTERVAL 1 HOUR
    GROUP BY s.event_id
    """,
)
def join_range_binned(spark, sf_dir):
    # Interval join (all events within the hour after each signup),
    # executed as an equi-join on coarse time bins + residual BETWEEN —
    # the scale path for range predicates (the naive plan is a
    # broadcast nested-loop join).
    from ..operators.scale import binned_range_join

    t = Tables(spark, sf_dir)
    # full-precision epoch seconds (unix_timestamp would truncate the
    # microseconds the oracle compares at)
    epoch = lambda c: F.col(c).cast("timestamp").cast("double")  # noqa: E731
    ev = t.events.select("user_id", epoch("ts").alias("pt"))
    windows = (
        t.events.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            epoch("ts").alias("lo"),
            (epoch("ts") + F.lit(3600.0)).alias("hi"),
        )
    )
    pairs = binned_range_join(ev, windows, "pt", "lo", "hi", bin_width=3600.0)
    return pairs.groupBy("signup_id").agg(
        F.count(F.lit(1)).alias("n_in_window"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purch AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'),
    ranked AS (
      SELECT c.event_id, c.user_id, c.ts, p.p_id, p.p_ts, p.p_value,
             row_number() OVER (
               PARTITION BY c.event_id
               ORDER BY p.p_ts DESC NULLS LAST, p.p_id DESC NULLS LAST
             ) AS rn
      FROM clicks c
      LEFT JOIN purch p
        ON p.user_id = c.user_id
       AND p.p_ts <= c.ts
       AND p.p_ts >= c.ts - INTERVAL 10 MINUTE)
    SELECT event_id, user_id, ts, p_id, p_ts, p_value
    FROM ranked WHERE rn = 1
    """,
)
def join_asof_tolerance(spark, sf_dir):
    # As-of join with a tolerance band — the attribution-window shape
    # ("the purchase this click gets credit for must be within 10
    # minutes"). Unlike the unbounded as-of (join_asof_event_order,
    # merge/union plan), the tolerance BOUNDS the band, which makes the
    # pairwise plan the right one at scale: the range predicate caps
    # rows-per-left-row at the band's event density, so the equi-join
    # on user_id never blows up, and Catalyst keeps it a plain shuffled
    # hash join (no BNLJ — the equi-key carries the join).
    from ..operators.asof_join import asof_join

    t = Tables(spark, sf_dir)
    ev = t.events
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    out = asof_join(
        clicks,
        purch,
        left_id="event_id",
        left_on="user_id",
        right_on="p_user",
        left_ts="ts",
        right_ts="p_ts",
        right_tiebreak="p_id",
        tolerance=F.expr("INTERVAL 10 MINUTES"),
    )
    return out.select("event_id", "user_id", "ts", "p_id", "p_ts", "p_value")


@query(
    "join_null_safe_eq",
    oracle="""
    WITH l AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
               FROM customer),
         r AS (SELECT DISTINCT NULLIF(c_mktsegment, 'BUILDING') AS seg
               FROM customer)
    SELECT r.seg, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM l JOIN r ON l.seg IS NOT DISTINCT FROM r.seg
    GROUP BY r.seg
    """,
)
def join_null_safe_eq(spark, sf_dir):
    # Null-safe equality join (<=> / IS NOT DISTINCT FROM): a plain
    # equi-join silently DROPS every NULL-keyed row (NULL = NULL is
    # NULL); the null-safe form matches them — the semantics dimension
    # tables with optional keys need. Catalyst treats <=> as an
    # equi-key, so this still plans as a hash join, not a BNLJ.
    t = Tables(spark, sf_dir)
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    left = t.customer.select("c_custkey", seg.alias("seg"))
    right = t.customer.select(seg.alias("rseg")).distinct()
    return (
        left.join(right, left["seg"].eqNullSafe(right["rseg"]))
        .groupBy("rseg")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(F.col("rseg").alias("seg"), "n_customers")
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH a AS (SELECT o_orderkey AS a_id,
                      date_diff('day', DATE '1995-01-01', o_orderdate) AS a_lo,
                      date_diff('day', DATE '1995-01-01', o_orderdate) + 6 AS a_hi
               FROM orders),
         b AS (SELECT o_orderkey AS b_id,
                      date_diff('day', DATE '1995-01-01', o_orderdate) AS b_lo,
                      date_diff('day', DATE '1995-01-01', o_orderdate) + 13 AS b_hi
               FROM orders WHERE o_orderkey % 100 = 0)
    SELECT a_id, b_id,
           CAST(LEAST(a_hi, b_hi) - GREATEST(a_lo, b_lo) + 1 AS BIGINT)
             AS overlap_days
    FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
    """,
)
def join_interval_overlap(spark, sf_dir):
    # Interval-INTERVAL overlap join — the two-sided sibling of
    # join_theta_range's point-in-interval shape (order fulfilment
    # weeks vs 14-day promo windows here; span-vs-span joins generally:
    # ad windows, maintenance windows, session overlap). Spark plans a
    # raw double-inequality join as a BroadcastNestedLoopJoin;
    # operators/scale.py binned_interval_overlap_join explodes both
    # sides over coarse bins, equi-joins on bin id, residual-filters,
    # and dedups WITHOUT a distinct shuffle via the claiming-bin rule
    # (each pair reports only in greatest(first-bin-a, first-bin-b)).
    # The oracle states the plain theta join.
    from ..operators.scale import binned_interval_overlap_join

    t = Tables(spark, sf_dir)
    day = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    a = t.orders.select(
        F.col("o_orderkey").alias("a_id"),
        day.cast("long").alias("a_lo"),
        (day + 6).cast("long").alias("a_hi"),
    )
    b = t.orders.where(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("b_id"),
        day.cast("long").alias("b_lo"),
        (day + 13).cast("long").alias("b_hi"),
    )
    joined = binned_interval_overlap_join(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi", bin_width=16
    )
    return joined.select(
        "a_id",
        "b_id",
        (F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo") + 1)
        .cast("long")
        .alias("overlap_days"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH probe AS (SELECT event_id AS pid, user_id, ts
                   FROM events WHERE event_type = 'click'),
    ref AS (SELECT event_id AS rid, user_id AS ruid, ts AS rts
            FROM events WHERE event_type = 'view'),
    cand AS (SELECT p.pid, p.user_id, p.ts, r.rid,
                    CAST(FLOOR(ABS(epoch(p.ts) - epoch(r.rts))) AS BIGINT) AS adiff,
                    r.rts
             FROM probe p JOIN ref r ON p.user_id = r.ruid
             WHERE ABS(epoch(p.ts) - epoch(r.rts)) <= 3600),
    best AS (SELECT pid, user_id, ts, rid, adiff,
                    row_number() OVER (PARTITION BY pid
                                       ORDER BY adiff, rts, rid) AS rn
             FROM cand)
    SELECT pid, user_id, ts, rid AS nearest_view_id,
           adiff AS abs_delta_s
    FROM best WHERE rn = 1
    """,
)
def join_asof_nearest(spark, sf_dir):
    """As-of join, direction='nearest' (the pandas merge_asof variant
    the backward/forward forms don't give): each click matches the
    closest view by the SAME user within a 1-hour tolerance, ties
    broken by earlier reference time then id — deterministic, so the
    whole match is exact-oracle checkable (time deltas are integer
    epoch seconds). Completes the as-of family: event-order carry-
    forward (join_asof_event_order), tolerance-bounded backward
    (join_asof_tolerance), and nearest-either-direction here.

    Scale shape: the candidate stage is a plain user_id equi-join with
    the tolerance as a residual (the stream-stream interval-join
    shape) — per-user event lists are bounded in practice; for
    pathological single-user firehoses the band-bin trick from
    join_asof_tolerance applies verbatim. Then ONE top-1 window per
    probe id (high-cardinality key). No BNLJ anywhere; plan-tested."""
    t = Tables(spark, sf_dir)
    probe = t.events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("pid"), "user_id", "ts"
    )
    ref = t.events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("rid"),
        F.col("user_id").alias("ruid"),
        F.col("ts").alias("rts"),
    )
    secs = lambda c: F.col(c).cast("timestamp").cast("double")  # noqa: E731
    adiff = F.abs(secs("ts") - secs("rts")).cast("long")
    cand = probe.join(ref, F.col("user_id") == F.col("ruid")).where(
        F.abs(secs("ts") - secs("rts")) <= 3600
    )
    w = W.partitionBy("pid").orderBy("adiff", "rts", "rid")
    return (
        cand.select("pid", "user_id", "ts", "rid", adiff.alias("adiff"), "rts")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "pid",
            "user_id",
            "ts",
            F.col("rid").alias("nearest_view_id"),
            F.col("adiff").alias("abs_delta_s"),
        )
    )


@query(
    "join_bloom_pruned",
    oracle="""
    SELECT s.s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE s.s_nationkey IN (3, 7)
    GROUP BY s.s_suppkey
    ORDER BY s.s_suppkey
    """,
)
def join_bloom_pruned(spark, sf_dir):
    """Runtime-filter join: the Spark 3 DPP/runtime-bloom pattern made
    explicit. When the dim side is selectively filtered but too large
    to broadcast-join outright at 100 TB, the winning plan builds a
    COMPACT membership sketch of the surviving dim keys (here the
    re-aggregatable 1024-bit Bloom from agg_bloom_filter_probe,
    aggregates.py:616 — per-partition bit_or, merge = 32-row bit_or),
    ships it to every fact task as ONE broadcast row, and drops
    non-matching fact rows BEFORE the shuffle join. False positives
    pass the sketch and are removed by the real join, so the result is
    bit-identical to the plain join — which is exactly what the oracle
    states. Pruning is row-local bit tests (xxhash64 positions +
    shiftright on a map-lookup word — the hash choice cannot affect
    the RESULT, only the false-positive rate, so the runtime filter
    keeps the cheap production hash even in an exact-oracle query):
    no explode, no extra shuffle; the fact-side
    exchange shrinks from |fact| to |matches| + epsilon. pytest pins
    the plan (sketch broadcast, pruned exchange) and the survivor
    count; the driver pins result equality."""
    t = Tables(spark, sf_dir)
    dim = t.supplier.where(F.col("s_nationkey").isin(3, 7)).select(
        "s_suppkey"
    )

    def pos_at(key_col, j):
        return F.pmod(F.xxhash64(key_col, F.lit(j)), F.lit(1024)).cast("long")

    mbits = dim.select(
        F.explode(
            F.array(*[pos_at(F.col("s_suppkey"), j) for j in range(3)])
        ).alias("pos")
    )
    sketch = (
        mbits.groupBy((F.col("pos") / 32).cast("long").alias("word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            ).alias("wbits")
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "wbits"))
            ).alias("bm")
        )
    )
    fact = t.lineitem.select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("rev_cents"),
    )
    probed = fact.crossJoin(F.broadcast(sketch))
    for j in range(3):
        probed = probed.withColumn(f"p{j}", pos_at(F.col("l_suppkey"), j))
    bit_tests = " AND ".join(
        f"(shiftright(coalesce(element_at(bm, CAST(p{j} / 32 AS BIGINT)),"
        f" CAST(0 AS BIGINT)), CAST(p{j} % 32 AS INT)) & 1) = 1"
        for j in range(3)
    )
    pruned = probed.where(F.expr(bit_tests)).select("l_suppkey", "rev_cents")
    return (
        pruned.join(
            t.supplier.where(F.col("s_nationkey").isin(3, 7)).select("s_suppkey"),
            pruned["l_suppkey"] == F.col("s_suppkey"),
        )
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev_cents").alias("revenue_cents"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "join_lateral_topk",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
    """,
)
def join_lateral_topk(spark, sf_dir):
    """Correlated LATERAL top-k — 'for each customer, its 2 most
    expensive orders' written the way an analyst writes it. Catalyst
    decorrelates the LATERAL subquery with its ORDER BY + LIMIT into a
    join + per-key rank (the same physical shape as the explicit
    row_number form in win_row_number_topk_per_group) rather than
    executing the subquery once per outer row — which is exactly why
    the declarative form is safe at 100 TB where a per-row re-scan
    would not be. Deterministic tie-break (price DESC, orderkey ASC)
    keeps the 2-row cut hash-exact. Customers with no orders drop out
    (LATERAL without OUTER), matching the oracle."""
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
        """
    )


_SPATIAL_SCALE = 10000
_SPATIAL_RADIUS_Q = 1000  # 0.1 in embedding units at scale 1e4

_SPATIAL_GRID_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         CAST(round(CAST(embedding[1] AS DOUBLE) * {_SPATIAL_SCALE}.0)
              AS BIGINT) AS x,
         CAST(round(CAST(embedding[2] AS DOUBLE) * {_SPATIAL_SCALE}.0)
              AS BIGINT) AS y
  FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq_q
FROM q a JOIN q b ON a.vec_id < b.vec_id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {_SPATIAL_RADIUS_Q * _SPATIAL_RADIUS_Q}
ORDER BY a_id, b_id
"""


@query("join_spatial_grid", oracle=_SPATIAL_GRID_ORACLE)
def join_spatial_grid(spark, sf_dir):
    """Spatial RADIUS self-join — all point pairs within distance r in
    the 2-D plane spanned by the first two embedding dimensions — via
    the uniform-grid equi-join (operators/spatial.py): points hash
    into square cells of side r, the probe side explodes over its 3x3
    cell neighborhood (pigeonhole guarantees any pair within r shares
    a probed cell), and an exact integer residual filter removes
    in-cell false candidates. The naive form of this predicate is a
    theta join that Catalyst can only plan as BNLJ/Cartesian — O(N^2)
    compare at any scale; the grid is the standard DBMS spatial-join
    reshape (the 2-D sibling of join_interval_overlap's 1-D bins) and
    keeps compute O(N + candidates). The ORACLE deliberately states
    the brute-force SEMANTICS (pair filter over the cross join) —
    fine for DuckDB at 500 points, and the hash-match proves the grid
    plan loses no pair and invents none. Integer discipline: coords
    quantize to round(x*1e4) BIGINTs, so cells, distances and the
    radius test are bit-identical cross-engine. Output density is
    quadratic in point density BY SEMANTICS (same caveat as the
    interval join); the plan-shape test pins no-BNLJ/no-Cartesian."""
    from ..operators.spatial import grid_radius_self_join

    t = Tables(spark, sf_dir)
    pts = t.embeddings.select(
        "vec_id",
        F.round(
            F.element_at("embedding", 1).cast("double")
            * F.lit(float(_SPATIAL_SCALE))
        ).cast("long").alias("x"),
        F.round(
            F.element_at("embedding", 2).cast("double")
            * F.lit(float(_SPATIAL_SCALE))
        ).cast("long").alias("y"),
    )
    return grid_radius_self_join(pts, _SPATIAL_RADIUS_Q).orderBy("a_id", "b_id")


_HOTSPOT_CELL_Q = 500
_HOTSPOT_OFFSET = 1 << 20

_GRID_HOTSPOT_ORACLE = f"""
WITH q AS (
  SELECT (CAST(round(CAST(embedding[1] AS DOUBLE) * {_SPATIAL_SCALE}.0)
               AS BIGINT) + {_HOTSPOT_OFFSET}) // {_HOTSPOT_CELL_Q} AS cx,
         (CAST(round(CAST(embedding[2] AS DOUBLE) * {_SPATIAL_SCALE}.0)
               AS BIGINT) + {_HOTSPOT_OFFSET}) // {_HOTSPOT_CELL_Q} AS cy
  FROM embeddings),
density AS (
  SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_pts FROM q GROUP BY cx, cy)
SELECT d.cx, d.cy, d.n_pts, CAST(SUM(n.n_pts) AS BIGINT) AS nbr_sum
FROM density d JOIN density n
  ON n.cx BETWEEN d.cx - 1 AND d.cx + 1
 AND n.cy BETWEEN d.cy - 1 AND d.cy + 1
GROUP BY d.cx, d.cy, d.n_pts
ORDER BY d.cx, d.cy
"""


@query("agg_grid_hotspot", oracle=_GRID_HOTSPOT_ORACLE)
def agg_grid_hotspot(spark, sf_dir):
    """Spatial DENSITY raster + 3x3 hotspot stencil — the heatmap /
    Getis-Ord-shaped smoothing every geo dashboard computes: points
    rasterize into cells (one map-side-combinable hash agg, output
    bounded by occupied cells), then each cell's neighborhood mass is
    gathered by SCATTER-GATHER (operators/spatial.py
    grid_neighborhood_sum): every cell emits its count to its 9
    neighbor targets (row-local constant explode) and one hash agg
    sums per target — no self-join explosion, and the stencil cost is
    9 rows per occupied CELL, not per point. The ORACLE deliberately
    states the naive band-condition self-join over the density table
    (BETWEEN +-1 both axes) — tiny in DuckDB — proving scatter-gather
    computes the identical stencil. All-integer cells and counts make
    it hash-exact. At 100 TB the raster IS the reduced dataset (cells,
    not points), so downstream smoothing/thresholding is cheap no
    matter the input size; the same scatter-gather generalizes to any
    fixed convolution kernel over sparse grids."""
    from ..operators.spatial import grid_density, grid_neighborhood_sum

    t = Tables(spark, sf_dir)
    pts = t.embeddings.select(
        F.round(
            F.element_at("embedding", 1).cast("double")
            * F.lit(float(_SPATIAL_SCALE))
        ).cast("long").alias("x"),
        F.round(
            F.element_at("embedding", 2).cast("double")
            * F.lit(float(_SPATIAL_SCALE))
        ).cast("long").alias("y"),
    )
    density = grid_density(pts, _HOTSPOT_CELL_Q)
    return grid_neighborhood_sum(density).orderBy("cx", "cy")


_SKNN_RADIUS_Q = 1200  # 0.12 in embedding units at scale 1e4
_SKNN_K = 5
_SKNN_NQ = 8

_SKNN_ORACLE = f"""
    WITH p AS (
      SELECT vec_id,
             CAST(round(CAST(embedding[1] AS DOUBLE) * {_SPATIAL_SCALE}.0)
                  AS BIGINT) AS x,
             CAST(round(CAST(embedding[2] AS DOUBLE) * {_SPATIAL_SCALE}.0)
                  AS BIGINT) AS y
      FROM embeddings),
    q AS (SELECT vec_id AS q_id, x AS qx, y AS qy FROM p
          WHERE vec_id < {_SKNN_NQ}),
    cand AS (
      SELECT q.q_id, p.vec_id AS neighbor_id,
             (p.x - q.qx) * (p.x - q.qx)
             + (p.y - q.qy) * (p.y - q.qy) AS dist_q
      FROM q JOIN p ON p.vec_id <> q.q_id
      WHERE (p.x - q.qx) * (p.x - q.qx)
            + (p.y - q.qy) * (p.y - q.qy)
            <= {_SKNN_RADIUS_Q * _SKNN_RADIUS_Q})
    SELECT q_id, neighbor_id, dist_q, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY dist_q ASC, neighbor_id ASC) AS rn
      FROM cand)
    WHERE rn <= {_SKNN_K}
    ORDER BY q_id, rn
"""


@query("join_spatial_knn_grid", oracle=_SKNN_ORACLE)
def join_spatial_knn_grid(spark, sf_dir):
    """Fixed-radius spatial kNN on the uniform grid — for each query
    point, the k=5 nearest points among those within Euclidean
    distance R, found WITHOUT a cross join: points hash into cells of
    side R, only the query side explodes over its 3x3 cell
    neighborhood (pigeonhole: any point within R of q shares one of
    those 9 cells), candidates filter on the exact integer squared
    distance, one bounded per-query window ranks them. The oracle
    states the brute-force semantics over the same quantized coords —
    the hash match proves the grid candidate set loses no neighbor.
    Honest contract: this is FIXED-RADIUS kNN (the spatial-index
    answer when a distance bound exists, e.g. geo joins); a query in
    an empty region returns fewer than k rows, and unbounded kNN
    needs iterative ring expansion — the documented tradeoff, same
    family as join_spatial_grid's radius join. Plan: cells are integer
    div (codegen), the only join is the 9-cell equi-join, no
    BNLJ/Cartesian (plan-tested)."""
    t = Tables(spark, sf_dir)
    r = _SKNN_RADIUS_Q
    pts = t.embeddings.select(
        "vec_id",
        F.round(
            F.element_at("embedding", 1).cast("double") * F.lit(float(_SPATIAL_SCALE))
        ).cast("long").alias("x"),
        F.round(
            F.element_at("embedding", 2).cast("double") * F.lit(float(_SPATIAL_SCALE))
        ).cast("long").alias("y"),
    )
    # Shift non-negative before `div` (operators/spatial.py COORD_OFFSET
    # invariant): Spark div truncates toward zero, so bare `x div r` on
    # signed coords makes a double-width origin cell — still covered by
    # the 3x3 probe, but non-uniform and a trap if the pattern is
    # copied anywhere cell ids cross engines (DuckDB // floors).
    from ..operators.spatial import COORD_OFFSET

    cells = pts.select(
        "vec_id", "x", "y",
        F.expr(f"(x + {COORD_OFFSET}) div {r}").alias("cx"),
        F.expr(f"(y + {COORD_OFFSET}) div {r}").alias("cy"),
    )
    q = (
        cells.where(F.col("vec_id") < _SKNN_NQ)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("x").alias("qx"),
            F.col("y").alias("qy"),
            F.explode(
                F.expr(
                    "transform(sequence(0, 8),"
                    " i -> struct(cx + i div 3 - 1 AS cx, cy + i % 3 - 1 AS cy))"
                )
            ).alias("nb"),
        )
        .select("q_id", "qx", "qy", "nb.cx", "nb.cy")
    )
    dist = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    cand = (
        q.join(cells, ["cx", "cy"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            dist.cast("long").alias("dist_q"),
        )
        .where(F.col("dist_q") <= r * r)
    )
    w = W.partitionBy("q_id").orderBy(F.col("dist_q").asc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _SKNN_K)
        .orderBy("q_id", "rn")
    )
