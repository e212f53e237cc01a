"""Bonus relational coverage beyond the §2.4 checklist: pivot,
scalar/EXISTS subqueries, additional window functions — operators a
user of the serving layer (SURVEY §2.2) reaches for next."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END) AS qty_F,
           SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END) AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark, sf_dir):
    # pivot = groupBy + pivoted conditional sums; with explicit pivot
    # values Spark skips the extra distinct-values job (required at
    # scale — never let pivot scan for its own columns).
    t = Tables(spark, sf_dir)
    out = (
        t.lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.coalesce(F.sum("l_quantity"), F.lit(0.0)))
    )
    return out.select(
        "l_returnflag", F.col("F").alias("qty_F"), F.col("O").alias("qty_O")
    )


@query(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def subquery_scalar(spark, sf_dir):
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@query(
    "subquery_in_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      AND EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    """,
)
def subquery_in_exists(spark, sf_dir):
    # IN + correlated EXISTS — Catalyst rewrites both into semi-joins;
    # the declarative form stays shuffle-minimal at scale.
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
          AND EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        """
    )


@query(
    "win_cume_dist_nth",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           ROUND(cume_dist() OVER w, 6) AS cd,
           nth_value(o_orderkey, 2) OVER (
             PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_biggest
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def win_cume_dist_nth(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return t.orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_biggest"),
    )


@query(
    "exists_in_block_range",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           MIN(event_id) AS first_event,
           MAX(event_id) AS last_event
    FROM events
    WHERE event_id BETWEEN 100 AND 5000
    GROUP BY user_id
    """,
)
def exists_in_block_range(spark, sf_dir):
    # The serving-layer range-scan pattern (rewards_block_idx analog,
    # reference migrations/V1:11): slice by a monotone key, aggregate.
    t = Tables(spark, sf_dir)
    return (
        t.events.where(F.col("event_id").between(100, 5000))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


@query(
    "rollup_time_hypertable",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_day,
           CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
                THEN date_trunc('hour', ts) END AS bucket_hour,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY GROUPING SETS (
      (date_trunc('day', ts), date_trunc('hour', ts), event_type),
      (date_trunc('day', ts), event_type)
    )
    """,
)
def rollup_time_hypertable(spark, sf_dir):
    # Hypertable-style continuous aggregate: the same fact stream rolled
    # up at hour and day granularity in one pass (grouping sets → one
    # shuffle, partial aggs map-side). At 100 TB this materializes
    # incrementally per time partition; the shape is identical.
    t = Tables(spark, sf_dir)
    t.register_views()
    return spark.sql(
        """
        SELECT date_trunc('DAY', ts) AS bucket_day,
               CASE WHEN GROUPING(date_trunc('HOUR', ts)) = 0
                    THEN date_trunc('HOUR', ts) END AS bucket_hour,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY GROUPING SETS (
          (date_trunc('DAY', ts), date_trunc('HOUR', ts), event_type),
          (date_trunc('DAY', ts), event_type)
        )
        """
    )


@query(
    "unpivot_melt",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def unpivot_melt(spark, sf_dir):
    # wide → long reshape; Spark's UNPIVOT is a single Expand node (one
    # scan), where the naive UNION ALL form scans the fact three times.
    t = Tables(spark, sf_dir)
    return t.lineitem.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@query(
    "json_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def json_variant_extract(spark, sf_dir):
    # Spark 4 VariantType: parse once into a binary variant, extract
    # typed fields without re-parsing text per access — the open-schema
    # `fields` column (reference migrations/V3:41) at scale.
    t = Tables(spark, sf_dir)
    return t.events.select(
        "event_id",
        F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long").alias("k_val"),
    )


@query(
    "merge_upsert_scd1",
    oracle="""
    WITH target AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_custkey % 2 = 0),
    updates AS (
      SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 3 = 0)
    SELECT COALESCE(t.c_custkey, u.c_custkey) AS c_custkey,
           COALESCE(u.c_name, t.c_name) AS c_name,
           COALESCE(u.c_acctbal, t.c_acctbal) AS c_acctbal,
           CASE WHEN t.c_custkey IS NULL THEN 'insert'
                WHEN u.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM target t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey
    """,
)
def merge_upsert_scd1(spark, sf_dir):
    # MERGE INTO without a table format: SCD1 upsert as a full-outer
    # join + source-wins coalesce, tagged with the action each row
    # took. This is the keyed idempotent-replace the reference does
    # per block (src/follower.rs:100 keyed INSERT ... ON CONFLICT
    # semantics via delete+insert, SURVEY E15) lifted to a set-based
    # plan: one shuffle on the key, no row-at-a-time writes. Target =
    # even custkeys, updates = custkeys divisible by 3, so all three
    # actions (update / keep / insert) appear.
    t = Tables(spark, sf_dir)
    base = t.customer.select("c_custkey", "c_name", "c_acctbal")
    target = base.where(F.col("c_custkey") % 2 == 0)
    updates = base.where(F.col("c_custkey") % 3 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    tt = target.alias("t")
    uu = updates.alias("u")
    return tt.join(
        uu, F.col("t.c_custkey") == F.col("u.c_custkey"), "full_outer"
    ).select(
        F.coalesce(F.col("t.c_custkey"), F.col("u.c_custkey")).alias(
            "c_custkey"
        ),
        F.coalesce(F.col("u.c_name"), F.col("t.c_name")).alias("c_name"),
        F.coalesce(F.col("u.c_acctbal"), F.col("t.c_acctbal")).alias(
            "c_acctbal"
        ),
        F.when(F.col("t.c_custkey").isNull(), "insert")
        .when(F.col("u.c_custkey").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
    )


@query(
    "rollup_incremental_refresh",
    oracle="""
    SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_value,
           CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS min_value,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_incremental_refresh(spark, sf_dir):
    # The TimescaleDB-style continuous aggregate DRIVER-VERIFIED: land
    # batch 1 (even event_ids) and refresh its touched hour buckets,
    # then land batch 2 (odd) and refresh again — the oracle is the
    # from-scratch rollup of ALL events, so the hash-match proves the
    # two-step incremental maintenance converges to exactly the full
    # recompute (operators/rollup.py refresh_rollup: touched-bucket
    # recompute + idempotent height-set replace; values in integral
    # cents so sums are FP-exact across engines).
    from ..operators.rollup import read_rollup, refresh_rollup
    from ..scratch import scratch_dir

    t = Tables(spark, sf_dir)
    path = scratch_dir("rollup_incremental") + "/rollup"
    ev = t.events.withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    b1 = ev.where(F.col("event_id") % 2 == 0)
    b2 = ev.where(F.col("event_id") % 2 == 1)
    # phase 1: only batch-1 rows have landed
    refresh_rollup(spark, b1, b1, path)
    # phase 2: full source landed; batch 2's buckets refresh from it
    refresh_rollup(spark, ev, b2, path)
    return read_rollup(spark, path).select(
        "bucket", "event_type", "n_events",
        F.col("total_value").cast("long").alias("total_value"),
        F.col("min_value").cast("long").alias("min_value"),
        F.col("max_value").cast("long").alias("max_value"),
    )


@query("graph_pagerank_topk")  # rows-only: FP summation order is engine-specific
def graph_pagerank_topk(spark, sf_dir):
    # Link-graph centrality for corpus curation (operators/graph.py):
    # crawl pipelines weight documents by their domain's PageRank
    # (Common Crawl publishes exactly this ranking), so the engine
    # carries a distributed power iteration. Graph here: the bipartite
    # customer<->supplier trade graph (edges both directions through
    # lineitem x orders, suppliers offset into their own id space),
    # damping 0.85, 8 iterations — deterministic up to FP summation
    # order, hence rows-only; tests/test_operators.py pins the operator
    # against a numpy model at 1e-9 and rank conservation (sum == 1).
    from ..operators.graph import pagerank

    t = Tables(spark, sf_dir)
    trade = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + F.lit(1_000_000)).alias("supp"),
        )
        .distinct()
    )
    edges = trade.select(F.col("cust").alias("src"), F.col("supp").alias("dst")).unionByName(
        trade.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    ranks = pagerank(edges, iterations=8)
    return (
        ranks.select("node", F.round("rank", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
    )


@query(
    "dq_expectations_report",
    oracle="""
    SELECT 'lineitem.l_discount_in_range' AS rule,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_quantity_positive',
           CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_returnflag_accepted',
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders.o_custkey_not_null',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderkey_unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    ORDER BY rule
    """,
)
def dq_expectations_report(spark, sf_dir):
    """Data-quality expectations over the serving tables — the
    DLT-expectations / Great-Expectations pattern every production
    pipeline publishes next to its data: per-rule violation counts for
    range, positivity, accepted-values, not-null and uniqueness
    checks. The engine-relevant part is the PLAN: all per-row rules on
    a table fold into ONE scan + one two-phase agg of conditional
    integer sums (adding a rule costs one column, not one pass);
    uniqueness rides the same scan as COUNT(*) - COUNT(DISTINCT).
    Integer counters — exact, order-free, hash-matches the oracle."""
    t = Tables(spark, sf_dir)

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    li = t.lineitem.agg(
        viol(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("discount_range"),
        viol(F.col("l_quantity") <= 0).alias("quantity_pos"),
        viol(~F.col("l_returnflag").isin("A", "N", "R")).alias("flag_accept"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    od = t.orders.agg(
        viol(F.col("o_custkey").isNull()).alias("custkey_null"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .cast("long")
        .alias("orderkey_dup"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    li_rules = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem.l_discount_in_range").alias("rule"),
                    F.col("discount_range").alias("n_violations"),
                    F.col("n_rows"),
                ),
                F.struct(
                    F.lit("lineitem.l_quantity_positive").alias("rule"),
                    F.col("quantity_pos").alias("n_violations"),
                    F.col("n_rows"),
                ),
                F.struct(
                    F.lit("lineitem.l_returnflag_accepted").alias("rule"),
                    F.col("flag_accept").alias("n_violations"),
                    F.col("n_rows"),
                ),
            )
        ).alias("r")
    ).select("r.rule", "r.n_violations", "r.n_rows")
    od_rules = od.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("orders.o_custkey_not_null").alias("rule"),
                    F.col("custkey_null").alias("n_violations"),
                    F.col("n_rows"),
                ),
                F.struct(
                    F.lit("orders.o_orderkey_unique").alias("rule"),
                    F.col("orderkey_dup").alias("n_violations"),
                    F.col("n_rows"),
                ),
            )
        ).alias("r")
    ).select("r.rule", "r.n_violations", "r.n_rows")
    return li_rules.unionByName(od_rules).orderBy("rule")


@query(
    "graph_triangle_count",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT LEAST(l1.l_partkey, l2.l_partkey) AS a,
                      GREATEST(l1.l_partkey, l2.l_partkey) AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
    ),
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (da.degree < db.degree)
                    OR (da.degree = db.degree AND e.a < e.b)
                  THEN e.a ELSE e.b END AS src,
             CASE WHEN (da.degree < db.degree)
                    OR (da.degree = db.degree AND e.a < e.b)
                  THEN e.b ELSE e.a END AS dst
      FROM edges e
      JOIN deg da ON da.node = e.a
      JOIN deg db ON db.node = e.b
    ),
    od AS (SELECT o.src, o.dst, d.degree AS dd
           FROM o JOIN deg d ON d.node = o.dst),
    tri AS (
      SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      FROM od e1 JOIN od e2
        ON e1.src = e2.src
       AND ((e1.dd < e2.dd) OR (e1.dd = e2.dd AND e1.dst < e2.dst))
      JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    pn AS (
      SELECT node, COUNT(*) AS triangles FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
      ) GROUP BY node
    )
    SELECT pn.node, CAST(deg.degree AS BIGINT) AS degree,
           CAST(pn.triangles AS BIGINT) AS triangles
    FROM pn JOIN deg ON deg.node = pn.node
    ORDER BY triangles DESC, pn.node ASC LIMIT 15
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Triangle counting / local clustering structure on the part
    co-purchase graph (parts sharing an order), the second classic
    graph signal after PageRank (extras.py:graph_pagerank_topk):
    community density drives near-dup cluster QA and spam-farm
    detection in crawl curation. Degree-ordered compact-forward
    enumeration (operators/graph.py:triangle_counts) keeps the wedge
    join O(m^1.5) — hub nodes never expand quadratically. Everything
    is BIGINT counting, so unlike PageRank this iteration-free graph
    query is hash-exact against the oracle. Edge construction is a
    co-partitioned self-equi-join on l_orderkey (per-order item
    counts are bounded, so pair expansion is row-local-bounded)."""
    from ..operators.graph import triangle_counts

    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey")
    pairs = li.join(
        li.withColumnRenamed("l_partkey", "p2"), "l_orderkey"
    ).where(F.col("l_partkey") != F.col("p2"))
    out = triangle_counts(pairs, a_col="l_partkey", b_col="p2")
    return out.orderBy(F.col("triangles").desc(), F.col("node").asc()).limit(15)


@query(
    "er_sorted_neighborhood",
    oracle="""
    WITH ranked AS (
      SELECT p_partkey, p_name,
             lead(p_name, 1) OVER w AS n1, lead(p_partkey, 1) OVER w AS k1,
             lead(p_name, 2) OVER w AS n2, lead(p_partkey, 2) OVER w AS k2,
             lead(p_name, 3) OVER w AS n3, lead(p_partkey, 3) OVER w AS k3
      FROM part
      WINDOW w AS (PARTITION BY substr(p_name, 1, 1)
                   ORDER BY p_name, p_partkey)
    ),
    cand AS (
      SELECT p_partkey AS key_a, p_name AS name_a, k1 AS key_b, n1 AS name_b
      FROM ranked WHERE n1 IS NOT NULL
      UNION ALL
      SELECT p_partkey, p_name, k2, n2 FROM ranked WHERE n2 IS NOT NULL
      UNION ALL
      SELECT p_partkey, p_name, k3, n3 FROM ranked WHERE n3 IS NOT NULL
    )
    SELECT key_a, key_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 2
    ORDER BY key_a, key_b
    """,
)
def er_sorted_neighborhood(spark, sf_dir):
    """Entity resolution / record linkage by the sorted-neighborhood
    method (Hernandez & Stolfo 1995): sort records on a blocking key,
    compare each record only to its next w-1 neighbors, match on edit
    distance. This is the scale-safe ER shape — O(n*w) candidate
    pairs, never the O(sum(block^2)) blowup of naive key blocking on a
    hot key (the same hot-bucket class r8 capped in the LSH screen).
    Spark shape: neighbors come from lead(k) window columns — entirely
    row-local after ONE sort, no self-join at all; the window is
    partitioned by the first sort-key character so no single task owns
    the whole table (boundary pairs across partitions are the method's
    documented multi-pass tradeoff). levenshtein is built-in on both
    engines and integer-valued, so the query is hash-exact."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy(F.substring("p_name", 1, 1)).orderBy(
        "p_name", "p_partkey"
    )
    ranked = t.part.select(
        "p_partkey",
        "p_name",
        *[
            c
            for k in (1, 2, 3)
            for c in (
                F.lead("p_name", k).over(w).alias(f"n{k}"),
                F.lead("p_partkey", k).over(w).alias(f"k{k}"),
            )
        ],
    )
    cand = None
    for k in (1, 2, 3):
        part_k = ranked.where(F.col(f"n{k}").isNotNull()).select(
            F.col("p_partkey").alias("key_a"),
            F.col("p_name").alias("name_a"),
            F.col(f"k{k}").alias("key_b"),
            F.col(f"n{k}").alias("name_b"),
        )
        cand = part_k if cand is None else cand.unionByName(part_k)
    return (
        cand.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .where(F.col("dist") <= 2)
        .select("key_a", "key_b", "name_a", "name_b", "dist")
        .orderBy("key_a", "key_b")
    )


_KCORE_K = 60
_KCORE_ROUNDS = 6


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """DuckDB twin of operators/graph.py kcore_peel, UNROLLED: one CTE
    pair (degree recompute, survivor filter) per peel round, generated
    from the same (k, rounds) constants the Spark query uses — the
    round-8 generated-oracle pattern applied to an ITERATIVE algorithm
    (PageRank stays rows-only because its iterate carries FP sums;
    the k-core iterate is pure integer counting, so it can be exact)."""
    s = """
    WITH edges AS (
      SELECT DISTINCT LEAST(l1.l_partkey, l2.l_partkey) AS a,
                      GREATEST(l1.l_partkey, l2.l_partkey) AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
    ),
    und AS (SELECT a AS node, b AS other FROM edges
            UNION ALL SELECT b AS node, a AS other FROM edges),
    alive0 AS (SELECT DISTINCT node FROM und)"""
    for r in range(rounds):
        s += f""",
    deg{r} AS (SELECT u.node, COUNT(*) AS d FROM und u
               JOIN alive{r} x ON x.node = u.node
               JOIN alive{r} y ON y.node = u.other
               GROUP BY u.node),
    alive{r + 1} AS (SELECT node FROM deg{r} WHERE d >= {k})"""
    s += f"""
    SELECT node, CAST(d AS BIGINT) AS core_degree
    FROM deg{rounds - 1} WHERE d >= {k}
    ORDER BY node"""
    return s


@query("graph_kcore_peel", oracle=_kcore_oracle_sql(_KCORE_K, _KCORE_ROUNDS))
def graph_kcore_peel(spark, sf_dir):
    """k-core of the part co-purchase graph by bounded-round peeling
    (operators/graph.py:kcore_peel, k=60, 6 rounds): the third graph
    signal (PageRank = centrality, triangles = local density, k-core =
    cohesive-subgraph membership — the standard spam-cluster /
    community-strength feature in crawl curation). The peel converges
    on this corpus within the round budget (pytest pins round 5 ==
    round 6), so the output is the TRUE core; and because the iterate
    is pure integer counting, the whole iterative algorithm is
    hash-exact against a generated oracle that unrolls the same six
    rounds — the only iterative query in the registry with an exact
    driver verdict."""
    from ..operators.graph import kcore_peel

    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey")
    pairs = li.join(
        li.withColumnRenamed("l_partkey", "p2"), "l_orderkey"
    ).where(F.col("l_partkey") != F.col("p2"))
    out = kcore_peel(pairs, k=_KCORE_K, rounds=_KCORE_ROUNDS,
                     a_col="l_partkey", b_col="p2")
    return out.orderBy("node")


@query(
    "view_incremental_join_refresh",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
           o.o_orderstatus, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_orderkey
    """,
)
def view_incremental_join_refresh(spark, sf_dir):
    """Incremental maintenance of a materialized JOIN view by DELTA
    RULES (the Materialize/DBSP/classic-IVM identity, insert-only
    case):  V2 = V1 ∪ (ΔA⋈B1) ∪ (A1⋈ΔB) ∪ (ΔA⋈ΔB).  The aggregate twin
    is rollup_incremental_refresh (:276); this closes the JOIN half of
    view maintenance: phase 1 lands 90% of orders and 95% of customers
    and materializes V1; phase 2 lands the delta batches and appends
    ONLY the three delta joins — the base join is never recomputed.
    The oracle is the from-scratch full join, so the hash-match proves
    the delta rule converges exactly.

    Scale: each refresh costs O(|Δ|·join-selectivity) — at 100 TB the
    delta batch is ingest-bounded (here it IS what sink_snapshot_changes
    emits: compose read_changes -> these three joins -> append for a
    CDC-fed maintained view), AQE broadcasts the measured-small delta
    sides, and the big-side scans are plain pushed-filter scans. Cents
    are rounded row-level before any aggregation-free transport, so the
    doubles never sum (FP discipline, SURVEY §7)."""
    from ..scratch import scratch_dir

    t = Tables(spark, sf_dir)
    orders = t.orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
        "o_orderstatus",
    )
    cust = t.customer.select("c_custkey", "c_name", "c_mktsegment")
    cols = [
        "o_orderkey", "o_custkey", "total_cents",
        "o_orderstatus", "c_name", "c_mktsegment",
    ]
    on = F.col("o_custkey") == F.col("c_custkey")
    d_o = orders.where(F.col("o_orderkey") % 10 == 0)
    a1 = orders.where(F.col("o_orderkey") % 10 != 0)
    d_c = cust.where(F.col("c_custkey") % 20 == 0)
    b1 = cust.where(F.col("c_custkey") % 20 != 0)

    path = scratch_dir("view_join_mv") + "/mv"
    a1.join(b1, on).select(*cols).write.mode("overwrite").parquet(path)
    (
        d_o.join(b1, on).select(*cols)
        .unionByName(a1.join(d_c, on).select(*cols))
        .unionByName(d_o.join(d_c, on).select(*cols))
        .write.mode("append").parquet(path)
    )
    return spark.read.parquet(path).orderBy("o_orderkey")


@query(
    "table_analyze_stats",
    oracle="""
    WITH per AS (
      SELECT 'o_custkey' AS col,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(o_custkey) AS BIGINT) AS n_nonnull,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv,
             CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
             CAST(MAX(o_custkey) AS VARCHAR) AS max_val
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(o_orderstatus) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
             CAST(MIN(o_orderstatus) AS VARCHAR),
             CAST(MAX(o_orderstatus) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(o_totalprice) AS BIGINT),
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
             CAST(CAST(round(MIN(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
             CAST(CAST(round(MAX(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
      FROM orders)
    SELECT col, n_rows, n_nonnull, ndv, min_val, max_val
    FROM per ORDER BY col
    """,
)
def table_analyze_stats(spark, sf_dir):
    """ANALYZE-style one-pass column statistics — the table the
    cost-based optimizer (and every data catalog) feeds on: row count,
    non-null count, exact NDV, min/max per column, computed for ALL
    requested columns in a SINGLE scan (one hash agg computes every
    per-column measure side by side; COUNT(DISTINCT x, y, z) in one
    agg expands to Spark's EXPAND + partial-agg plan, still one pass
    over the facts). At 100 TB stats runs are scheduled maintenance —
    one scan amortized across every column matters. min/max transport
    as strings so one schema serves all types (the same trick as the
    footer skipping index); price min/max in integer cents keeps the
    doubles comparison-only. The NDV here is exact (the CBO-grade
    path); agg_hll_sketch_* are the approximate twins when a scan
    budget forces it."""
    t = Tables(spark, sf_dir)
    o = t.orders
    row = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("o_custkey").cast("long").alias("nn_ck"),
        F.countDistinct("o_custkey").cast("long").alias("ndv_ck"),
        F.min("o_custkey").cast("string").alias("min_ck"),
        F.max("o_custkey").cast("string").alias("max_ck"),
        F.count("o_orderstatus").cast("long").alias("nn_st"),
        F.countDistinct("o_orderstatus").cast("long").alias("ndv_st"),
        F.min("o_orderstatus").cast("string").alias("min_st"),
        F.max("o_orderstatus").cast("string").alias("max_st"),
        F.count("o_totalprice").cast("long").alias("nn_tp"),
        F.countDistinct("o_totalprice").cast("long").alias("ndv_tp"),
        F.round(F.min("o_totalprice") * 100).cast("long").cast("string").alias("min_tp"),
        F.round(F.max("o_totalprice") * 100).cast("long").cast("string").alias("max_tp"),
    )
    per = row.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_custkey").alias("col"),
                    F.col("n_rows"),
                    F.col("nn_ck").alias("n_nonnull"),
                    F.col("ndv_ck").alias("ndv"),
                    F.col("min_ck").alias("min_val"),
                    F.col("max_ck").alias("max_val"),
                ),
                F.struct(
                    F.lit("o_orderstatus").alias("col"),
                    F.col("n_rows"),
                    F.col("nn_st").alias("n_nonnull"),
                    F.col("ndv_st").alias("ndv"),
                    F.col("min_st").alias("min_val"),
                    F.col("max_st").alias("max_val"),
                ),
                F.struct(
                    F.lit("o_totalprice").alias("col"),
                    F.col("n_rows"),
                    F.col("nn_tp").alias("n_nonnull"),
                    F.col("ndv_tp").alias("ndv"),
                    F.col("min_tp").alias("min_val"),
                    F.col("max_tp").alias("max_val"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    return per.orderBy("col")


@query(
    "table_diff_audit",
    oracle="""
    WITH a AS (SELECT o_orderkey, o_orderstatus,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_orderkey % 7 <> 0),
         b AS (SELECT o_orderkey, o_orderstatus,
                      CASE WHEN o_orderkey % 5 = 0 THEN
                        CAST(round(o_totalprice * 100) AS BIGINT) + 1
                      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents
               FROM orders WHERE o_orderkey % 11 <> 0)
    SELECT 'only_in_a' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM a
      LEFT JOIN b USING (o_orderkey) WHERE b.o_orderkey IS NULL
    UNION ALL
    SELECT 'only_in_b', CAST(COUNT(*) AS BIGINT) FROM b
      LEFT JOIN a USING (o_orderkey) WHERE a.o_orderkey IS NULL
    UNION ALL
    SELECT 'changed', CAST(COUNT(*) AS BIGINT)
    FROM a JOIN b USING (o_orderkey)
    WHERE a.cents <> b.cents OR a.o_orderstatus <> b.o_orderstatus
    UNION ALL
    SELECT 'identical', CAST(COUNT(*) AS BIGINT)
    FROM a JOIN b USING (o_orderkey)
    WHERE a.cents = b.cents AND a.o_orderstatus = b.o_orderstatus
    ORDER BY bucket
    """,
)
def table_diff_audit(spark, sf_dir):
    """Keyed DATA-DIFF between two table versions — the reconciliation
    report every migration/backfill ends with (datafold/data-diff,
    Delta's table comparison): bucket every key into only_in_a /
    only_in_b / changed / identical, counted in ONE full-outer-join
    pass on the key (never exceptAll twice over the full width —
    that's two shuffles of every byte; the join shuffles each side
    once and compares row-local). Here version B simulates a backfill
    that dropped keys (%7 filter vs %11), and perturbed some values
    (+1 cent on %5): the report quantifies exactly what changed. At
    100 TB both sides bucket by the join key — co-partitioned sinks
    (sink_bucketed_colocated_join) make this diff shuffle-free."""
    t = Tables(spark, sf_dir)
    base = t.orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    a = base.where(F.col("o_orderkey") % 7 != 0)
    b = base.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "cents",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("cents") + 1).otherwise(
            F.col("cents")
        ),
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    bucket = (
        F.when(F.col("b.o_orderkey").isNull(), F.lit("only_in_a"))
        .when(F.col("a.o_orderkey").isNull(), F.lit("only_in_b"))
        .when(
            (F.col("a.cents") != F.col("b.cents"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            F.lit("changed"),
        )
        .otherwise(F.lit("identical"))
    )
    counts = (
        j.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # The oracle's four UNION ALL'd COUNT(*) rows always materialize;
    # groupBy omits empty buckets, so scaffold all four and zero-fill —
    # otherwise a dataset with e.g. no 'changed' keys hash-mismatches
    # on row count.
    scaffold = spark.createDataFrame(
        [("only_in_a",), ("only_in_b",), ("changed",), ("identical",)],
        "bucket string",
    )
    return (
        scaffold.join(counts, "bucket", "left")
        .select("bucket", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
        .orderBy("bucket")
    )


from ..operators.graph import PORTABLE_DAMPING_PCT, PORTABLE_SCALE  # noqa: E402

_PRP_ROUNDS = 4
_PRP_TOPK = 20


def _pagerank_portable_oracle_sql(
    rounds: int, scale: int, damp: int, topk: int
) -> str:
    """DuckDB twin of operators/graph.py pagerank_portable_quantized,
    UNROLLED one (contrib, re-rank) CTE pair per round from the same
    module constants — the generated-oracle pattern applied to the
    registry's last iterative float algorithm. All arithmetic is
    BIGINT floor division and sums bounded by the 1e12 total mass."""
    s = f"""
    WITH trade AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + 1000000 AS supp
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT cust AS src, supp AS dst FROM trade
      UNION ALL
      SELECT supp AS src, cust AS dst FROM trade),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    p AS (SELECT CAST({scale} // COUNT(*) AS BIGINT) AS r0,
                 CAST(({100 - damp} * ({scale} // COUNT(*))) // 100 AS BIGINT)
                   AS base
          FROM nodes),
    r0 AS (SELECT node, (SELECT r0 FROM p) AS r FROM nodes)"""
    for i in range(rounds):
        s += f""",
    c{i} AS (
      SELECT e.dst AS node, CAST(SUM(r.r // d.d) AS BIGINT) AS s
      FROM edges e JOIN r{i} r ON e.src = r.node
                   JOIN deg d ON e.src = d.src
      GROUP BY e.dst),
    r{i + 1} AS (
      SELECT n.node,
             CAST((SELECT base FROM p)
                  + ({damp} * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)"""
    s += f"""
    SELECT node, r AS rank_q FROM r{rounds}
    ORDER BY rank_q DESC, node ASC LIMIT {topk}"""
    return s


@query(
    "graph_pagerank_portable",
    oracle=_pagerank_portable_oracle_sql(
        _PRP_ROUNDS, PORTABLE_SCALE, PORTABLE_DAMPING_PCT, _PRP_TOPK
    ),
)
def graph_pagerank_portable(spark, sf_dir):
    """PageRank with a DRIVER-EXACT verdict — integer mass, BIGINT
    floor division everywhere (operators/graph.py
    pagerank_portable_quantized), so the power iteration is
    bit-identical across engines and the oracle UNROLLS all four
    rounds from shared constants. Closes the last rows-only ITERATIVE
    algorithm class: the float twin (graph_pagerank_topk, :322) stays
    registered as the production form (true probability ranks,
    dangling handling), pinned to a numpy model at 1e-9; this form
    proves the distributed iteration machinery exactly, like
    vec_kmeans_portable does for Lloyd and graph_kcore_peel for
    peeling. Same plan economics per round: one equi-join on src, one
    hash agg on dst, zero per-round driver traffic. The trade graph is
    symmetrized, hence dangling-free — the integer form's documented
    contract."""
    from ..operators.graph import pagerank_portable_quantized

    t = Tables(spark, sf_dir)
    trade = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + F.lit(1_000_000)).alias("supp"),
        )
        .distinct()
    )
    edges = trade.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionByName(
        trade.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    ranks = pagerank_portable_quantized(edges, rounds=_PRP_ROUNDS)
    return ranks.orderBy(F.col("rank_q").desc(), F.col("node").asc()).limit(_PRP_TOPK)


_REACH_HOPS = 3
_REACH_SEED = 0

# ONE SQL string both engines execute verbatim (Spark 4 and DuckDB both
# implement standard WITH RECURSIVE): the strongest convergence proof in
# the oracle toolbox — there is no restatement to drift.
_REACH_SQL = f"""
WITH RECURSIVE reach(node, hops) AS (
  SELECT CAST({_REACH_SEED} AS BIGINT) AS node, 0 AS hops
  UNION ALL
  SELECT DISTINCT e.dst, r.hops + 1
  FROM reach r JOIN (
    SELECT cust AS src, supp + 1000000 AS dst FROM (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT supp + 1000000, cust FROM (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
  ) e ON e.src = r.node
  WHERE r.hops < {_REACH_HOPS})
SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops,
       CAST(COUNT(*) AS BIGINT) AS n_levels
FROM reach GROUP BY node ORDER BY node
"""


@query("graph_reachability_recursive", oracle=_REACH_SQL)
def graph_reachability_recursive(spark, sf_dir):
    """Bounded-depth REACHABILITY via ANSI recursive CTE — Spark 4's
    WITH RECURSIVE surface driving the same BFS the iterative
    operators (pagerank/kcore) hand-roll, declared instead of looped:
    from a seed customer, every node of the bipartite trade graph
    within 3 hops, with min-hop distance and path multiplicity. The
    SAME SQL string runs on BOTH engines (no oracle restatement at
    all) — the recursion is all integer joins/counts, so the result
    hash-matches by construction.

    Scale posture: each recursion level is one equi-join frontier
    expansion + the engine's own fixpoint machinery — the identical
    per-round economics to graph_pagerank_topk's explicit loop, but
    Catalyst owns the iteration (and can stop early on an empty
    frontier). The recursive term is SELECT DISTINCT — true BFS: each
    level's working set is bounded by frontier NODES. The seventh r8
    session learned this the hard way: the original UNION ALL form
    accumulated PATH rows, which are exponential in hops on a dense
    bipartite graph, and blew Spark's 1e6-row recursion guard at
    sf0.1 in the bench lane (driver-scale sf0.01 passed — exactly the
    failure class the 10x lane exists to catch). n_levels counts the
    distinct hop depths at which a node appears (<= hops/2 + 1 by
    bipartite parity); unbounded closure over a cyclic graph would
    use the min-label iteration (dedup_cluster_components) instead.

    r9 perf (verdict directive 5): the recursive term's edge subquery
    was re-derived at EVERY recursion level — Spark inlines CTE
    subqueries into the recursion, so each of the 3 hops re-ran the
    lineitem⋈orders DISTINCT build (the query's dominant cost).  The
    Spark side now materializes the edge list ONCE (localCheckpoint —
    an O(edges) node-id table) behind a temp view and recurses over
    that; measured 1.7x warm / 1.4x cold at sf0.1, identical rows.
    The RECURSION core stays textually identical to the oracle
    (_REACH_SQL) — only the FROM source is hoisted; DuckDB keeps the
    inline form because its oracle run is one-shot and it
    materializes CTEs anyway."""
    t = Tables(spark, sf_dir)
    trade = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + F.lit(1_000_000)).alias("supp"),
        )
        .distinct()
    )
    edges = trade.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionByName(
        trade.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    # per-call unique view name: a fixed name is session-global mutable
    # state — two interleaved calls (parallel tests, two sf_dirs) would
    # race createOrReplaceTempView vs spark.sql and silently recurse
    # over the other call's graph
    import uuid

    view = f"__reach_edges_{uuid.uuid4().hex[:12]}"
    edges.localCheckpoint(eager=True).createOrReplaceTempView(view)
    out = spark.sql(
        f"""
        WITH RECURSIVE reach(node, hops) AS (
          SELECT CAST({_REACH_SEED} AS BIGINT) AS node, 0 AS hops
          UNION ALL
          SELECT DISTINCT e.dst, r.hops + 1
          FROM reach r JOIN {view} e ON e.src = r.node
          WHERE r.hops < {_REACH_HOPS})
        SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops,
               CAST(COUNT(*) AS BIGINT) AS n_levels
        FROM reach GROUP BY node ORDER BY node
        """
    )
    # the analyzed plan is already bound to the checkpointed relation;
    # dropping the catalog entry immediately keeps per-call uuid views
    # (and their pinned edge blocks) from accumulating for the session
    # lifetime — the blocks now free with the returned DataFrame
    spark.catalog.dropTempView(view)
    return out


_SCD2_T0 = 100
_SCD2_T1 = 200

_SCD2_MERGE_ORACLE = f"""
WITH target AS (
  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         CAST({_SCD2_T0} AS BIGINT) AS valid_from
  FROM customer WHERE c_custkey % 2 = 0),
updates AS (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 5 = 0 THEN 0 ELSE 10000 END AS cents
  FROM customer WHERE c_custkey % 3 = 0),
changed AS (
  SELECT t.c_custkey, t.cents AS old_cents, u.cents AS new_cents,
         t.valid_from
  FROM target t JOIN updates u ON t.c_custkey = u.c_custkey
  WHERE t.cents <> u.cents)
SELECT c_custkey, old_cents AS cents, valid_from,
       CAST({_SCD2_T1} AS BIGINT) AS valid_to
FROM changed
UNION ALL
SELECT c_custkey, new_cents, CAST({_SCD2_T1} AS BIGINT), CAST(NULL AS BIGINT)
FROM changed
UNION ALL
SELECT u.c_custkey, u.cents, CAST({_SCD2_T1} AS BIGINT), CAST(NULL AS BIGINT)
FROM updates u LEFT JOIN target t ON u.c_custkey = t.c_custkey
WHERE t.c_custkey IS NULL
UNION ALL
SELECT t.c_custkey, t.cents, t.valid_from, CAST(NULL AS BIGINT)
FROM target t LEFT JOIN changed c ON t.c_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
ORDER BY c_custkey, valid_from
"""


@query("merge_upsert_scd2", oracle=_SCD2_MERGE_ORACLE)
def merge_upsert_scd2(spark, sf_dir):
    """SCD TYPE-2 MERGE — apply an update batch to a versioned
    dimension by CLOSING the current row (valid_to = batch time) and
    OPENING a successor, keeping no-op updates and untouched keys as
    they are, inserting brand-new keys open — the
    close-and-open maintenance every warehouse dimension runs (the
    MERGE INTO ... WHEN MATCHED pattern of the table formats), next to
    merge_upsert_scd1's overwrite form. Plan shape: the oracle states
    it as four scans union'd (changed/new/untouched); the Spark form
    is ONE full-outer join on the key and a row-local explode that
    emits 1 or 2 rows per key (close + open for real changes) — single
    shuffle, no re-scan per action arm, which is the difference
    between O(dim) and O(4*dim) IO at 100 TB. Integer cents + integer
    validity timestamps keep it hash-exact; no-op updates (%5 keys)
    prove the WHEN MATCHED AND <changed> guard."""
    t = Tables(spark, sf_dir)
    base = t.customer.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    target = base.where(F.col("c_custkey") % 2 == 0).withColumn(
        "valid_from", F.lit(_SCD2_T0).cast("long")
    )
    updates = base.where(F.col("c_custkey") % 3 == 0).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("c_custkey") % 5 == 0, 0).otherwise(10000),
    )
    j = target.alias("t").join(
        updates.alias("u"),
        F.col("t.c_custkey") == F.col("u.c_custkey"),
        "full_outer",
    )
    row = "struct(CAST({f} AS BIGINT) AS valid_from, CAST({to} AS BIGINT) AS valid_to, CAST({c} AS BIGINT) AS cents)"
    out_rows = F.expr(
        "CASE "
        # real change: close the old row, open the successor
        " WHEN t.c_custkey IS NOT NULL AND u.c_custkey IS NOT NULL"
        "      AND t.cents <> u.cents THEN array("
        + row.format(f="t.valid_from", to=_SCD2_T1, c="t.cents")
        + ", "
        + row.format(f=_SCD2_T1, to="NULL", c="u.cents")
        + ")"
        # brand-new key: open
        " WHEN t.c_custkey IS NULL THEN array("
        + row.format(f=_SCD2_T1, to="NULL", c="u.cents")
        + ")"
        # no-op update or untouched: carry the open row through
        " ELSE array("
        + row.format(f="t.valid_from", to="NULL", c="t.cents")
        + ") END"
    )
    return (
        j.select(
            F.coalesce(F.col("t.c_custkey"), F.col("u.c_custkey")).alias(
                "c_custkey"
            ),
            F.explode(out_rows).alias("r"),
        )
        .select(
            "c_custkey",
            F.col("r.cents").alias("cents"),
            F.col("r.valid_from").alias("valid_from"),
            F.col("r.valid_to").alias("valid_to"),
        )
        .orderBy("c_custkey", "valid_from")
    )


_RI_ORACLE = """
WITH li AS (
  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
         CAST(COUNT(*) AS BIGINT) AS n_child,
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_orphans,
         CAST(COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL
                                  THEN l.l_orderkey END)
              AS BIGINT) AS n_orphan_keys
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'lineitem.l_partkey->part',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(COUNT(DISTINCT CASE WHEN p.p_partkey IS NULL
                                  THEN l.l_partkey END) AS BIGINT)
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
    ON l.l_partkey = p.p_partkey
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(COUNT(DISTINCT CASE WHEN s.s_suppkey IS NULL
                                  THEN l.l_suppkey END) AS BIGINT)
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
    ON l.l_suppkey = s.s_suppkey
  UNION ALL
  SELECT 'orders.o_custkey->customer',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL
                                  THEN o2.o_custkey END) AS BIGINT)
  FROM orders o2
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o2.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'customer.c_nationkey->nation',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(COUNT(DISTINCT CASE WHEN n.n_nationkey IS NULL
                                  THEN c2.c_nationkey END) AS BIGINT)
  FROM customer c2
  LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
    ON c2.c_nationkey = n.n_nationkey)
SELECT * FROM li ORDER BY fk_edge
"""


@query("dq_referential_integrity", oracle=_RI_ORACLE)
def dq_referential_integrity(spark, sf_dir):
    """FOREIGN-KEY integrity audit — per FK edge: child rows, orphan
    rows (no parent), distinct orphan keys — the referential twin of
    dq_expectations_report's per-row rules, and the first report every
    migration/backfill reconciliation runs after table_diff_audit.

    Scale discipline (the dq_expectations rule lifted to JOINS): each
    CHILD table is scanned ONCE no matter how many FK edges leave it —
    lineitem's three edges ride one scan with three parent-key left
    joins aggregated together, then unpivot to report rows; parent key
    sets are distinct-projected (and broadcast when dim-sized) so the
    audit never shuffles a fact on a parent's behalf. The oracle
    restates it as the naive per-edge scans; the hash-match proves the
    fused pass counts identically. A clean all-zero orphan column IS
    the result on consistent data — the audit earns its keep on the
    day a backfill breaks an edge."""
    t = Tables(spark, sf_dir)
    okeys = t.orders.select("o_orderkey").distinct()
    pkeys = t.part.select("p_partkey").distinct()
    skeys = t.supplier.select("s_suppkey").distinct()
    ckeys = t.customer.select("c_custkey").distinct()
    nkeys = t.nation.select("n_nationkey").distinct()

    li = (
        t.lineitem.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(okeys, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .join(F.broadcast(pkeys), F.col("l_partkey") == F.col("p_partkey"), "left")
        .join(F.broadcast(skeys), F.col("l_suppkey") == F.col("s_suppkey"), "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long").alias("orph_o"),
            F.countDistinct(
                F.when(F.col("o_orderkey").isNull(), F.col("l_orderkey"))
            ).cast("long").alias("keys_o"),
            F.sum(F.when(F.col("p_partkey").isNull(), 1).otherwise(0))
            .cast("long").alias("orph_p"),
            F.countDistinct(
                F.when(F.col("p_partkey").isNull(), F.col("l_partkey"))
            ).cast("long").alias("keys_p"),
            F.sum(F.when(F.col("s_suppkey").isNull(), 1).otherwise(0))
            .cast("long").alias("orph_s"),
            F.countDistinct(
                F.when(F.col("s_suppkey").isNull(), F.col("l_suppkey"))
            ).cast("long").alias("keys_s"),
        )
        .select(
            F.expr(
                "explode(array("
                " struct('lineitem.l_orderkey->orders' AS fk_edge,"
                "        n_child, orph_o AS n_orphans, keys_o AS n_orphan_keys),"
                " struct('lineitem.l_partkey->part' AS fk_edge,"
                "        n_child, orph_p AS n_orphans, keys_p AS n_orphan_keys),"
                " struct('lineitem.l_suppkey->supplier' AS fk_edge,"
                "        n_child, orph_s AS n_orphans, keys_s AS n_orphan_keys)"
                ")) AS r"
            )
        )
        .select("r.*")
    )

    def one_edge(child, key, parent_keys, pkey, edge):
        return (
            child.join(
                F.broadcast(parent_keys), F.col(key) == F.col(pkey), "left"
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(F.when(F.col(pkey).isNull(), 1).otherwise(0))
                .cast("long").alias("n_orphans"),
                F.countDistinct(F.when(F.col(pkey).isNull(), F.col(key)))
                .cast("long").alias("n_orphan_keys"),
            )
            .select(F.lit(edge).alias("fk_edge"), "n_child", "n_orphans",
                    "n_orphan_keys")
        )

    oc = one_edge(
        t.orders.select("o_custkey"), "o_custkey", ckeys, "c_custkey",
        "orders.o_custkey->customer",
    )
    cn = one_edge(
        t.customer.select("c_nationkey"), "c_nationkey", nkeys, "n_nationkey",
        "customer.c_nationkey->nation",
    )
    return li.unionByName(oc).unionByName(cn).orderBy("fk_edge")
