"""§2.4.B — projection / filters / predicates.

ETL-layer analogs: txn-type dispatch σ type='rewards_v2'
(reference src/block_processor.rs:56-57), the 7-column reward projection
with checked casts (src/reward.rs:38-44, :35-36), the '1Wh4bh' null
sentinel (src/reward.rs:22-33, README.md:111), and mode dispatch
(src/settings.rs:8-12) as conditional projection. All are single-pass,
shuffle-free, codegen'd row-level work in Spark.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..etl.schemas import SENTINEL
from ..registry import query
from ..tables import load_table


@query(
    "project_rename_cast",
    oracle="""
    SELECT CAST(l_orderkey AS VARCHAR) AS order_id,
           CAST(l_linenumber AS BIGINT) AS line_no,
           l_extendedprice * (1 - l_discount) AS net_price,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem
    """,
)
def project_rename_cast(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("order_id"),
        F.col("l_linenumber").cast("bigint").alias("line_no"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )


@query(
    "filter_equality",
    oracle="SELECT event_id, user_id, event_type FROM events WHERE event_type = 'signup'",
)
def filter_equality(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "signup")
        .select("event_id", "user_id", "event_type")
    )


@query(
    "filter_range_and_or_not",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax, l_returnflag
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND (l_discount > 0.05 OR l_tax < 0.03)
      AND NOT (l_returnflag = 'R')
    """,
)
def filter_range_and_or_not(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        F.col("l_quantity").between(10, 20)
        & ((F.col("l_discount") > 0.05) | (F.col("l_tax") < 0.03))
        & ~(F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax", "l_returnflag")


@query(
    "filter_in_set",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    """,
)
def filter_in_set(spark, sf_dir):
    # Small-set membership — the tiny-filter-list fast path of the
    # reference's Filters mode (src/filter.rs:26-38).
    return (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@query(
    "filter_null_semantics",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           NULLIF(l_returnflag, 'N') AS flag_or_null,
           COALESCE(NULLIF(l_returnflag, 'N'), '{SENTINEL}') AS flag_sentinel,
           (NULLIF(l_returnflag, 'N') IS NULL) AS was_defaulted
    FROM lineitem
    """,
)
def filter_null_semantics(spark, sf_dir):
    # E7: missing value → '1Wh4bh' sentinel (reference src/reward.rs:22-33).
    li = load_table(spark, sf_dir, "lineitem")
    flag = F.nullif(F.col("l_returnflag"), F.lit("N"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        flag.alias("flag_or_null"),
        F.coalesce(flag, F.lit(SENTINEL)).alias("flag_sentinel"),
        flag.isNull().alias("was_defaulted"),
    )


@query(
    "filter_like_regex",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_name LIKE '%widget%' OR regexp_matches(p_name, '^(red|blue) ')
    """,
)
def filter_like_regex(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.where(
        F.col("p_name").like("%widget%") | F.col("p_name").rlike("^(red|blue) ")
    ).select("p_partkey", "p_name")


@query(
    "case_when_dispatch",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'jumbo'
                WHEN o_totalprice >= 100000 THEN 'large'
                WHEN o_orderstatus = 'F' THEN 'finished-small'
                ELSE 'small' END AS size_class
    FROM orders
    """,
)
def case_when_dispatch(spark, sf_dir):
    # Mode dispatch (reference src/settings.rs:8-12,
    # src/block_processor.rs:71-121) as conditional projection.
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "jumbo")
        .when(F.col("o_totalprice") >= 100000, "large")
        .when(F.col("o_orderstatus") == "F", "finished-small")
        .otherwise("small")
        .alias("size_class"),
    )
