"""§2.4.A — scans / sources / sinks.

ETL-layer analogs: the reference's RPC block/txn source
(reference src/block_processor.rs:29,58,130) becomes declarative reads
with projection/predicate pushdown; its append sinks
(src/reward.rs:38-44, src/transaction.rs:24-27) become parquet writes.
At 100 TB these scans rely on Catalyst pushing filters/columns into the
parquet reader (verify with .explain: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..scratch import scratch_dir
from ..tables import load_table


@query(
    "scan_parquet",
    oracle="SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",
)
def scan_parquet(spark, sf_dir):
    return load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )


@query(
    "scan_projection_pushdown",
    oracle="SELECT l_orderkey, l_extendedprice FROM lineitem",
)
def scan_projection_pushdown(spark, sf_dir):
    # Column pruning reaches the parquet reader: ReadSchema lists only
    # these two columns (the reference prunes by construction,
    # src/reward.rs:38-44).
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")


@query(
    "scan_predicate_pushdown",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def scan_predicate_pushdown(spark, sf_dir):
    # Filter pushed into the scan (PushedFilters: [GreaterThanOrEqual(...)])
    # → row-group pruning at scale.
    return (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_shipdate")
    )


@query(
    "sink_roundtrip_parquet",
    # The write is a side effect; the CONTRACT is losslessness — what
    # comes back must be exactly the filtered projection that went in,
    # which the source-side SQL states directly.
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def sink_roundtrip_parquet(spark, sf_dir):
    # Append-sink analog of the reference's rewards INSERT loop
    # (src/reward.rs:38-44) — but columnar and batched.
    out = scratch_dir("sink_roundtrip") + "/t"
    df = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
           c_name || ', "' || c_mktsegment || '"' AS tricky
    FROM customer
    """,
)
def source_csv_roundtrip(spark, sf_dir):
    # CSV source coverage (the remaining text wire format next to
    # JSON-lines): write → read back with an EXPLICIT schema — never
    # inference, which is a second full pass over the data at 100 TB.
    # A synthesized column embeds commas AND quotes so the exact oracle
    # proves quoting/escaping round-trips losslessly.
    out = scratch_dir("source_csv") + "/t"
    df = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        "c_mktsegment",
        F.concat(
            F.col("c_name"), F.lit(', "'), F.col("c_mktsegment"), F.lit('"')
        ).alias("tricky"),
    )
    df.write.mode("overwrite").option("header", True).csv(out)
    return (
        spark.read.schema(
            "c_custkey long, c_name string, c_acctbal double, "
            "c_mktsegment string, tricky string"
        )
        .option("header", True)
        .csv(out)
    )


@query(
    "source_json_lines",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def source_json_lines(spark, sf_dir):
    # JSON-document ingestion, the analog of parsing JSON-RPC payloads
    # (reference src/block_processor.rs:50-56; jsonb fields
    # migrations/V3__create_transactions.sql:41).
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def source_orc_roundtrip(spark, sf_dir):
    # ORC source/sink — the other columnar wire format Spark reads
    # natively (no package downloads; the reference's Postgres COPY
    # analog). The oracle states the projection that went in, so the
    # hash proves ORC round-trips types (longs, doubles, timestamps)
    # losslessly. ORC embeds its schema; no inference pass needed.
    out = scratch_dir("source_orc") + "/t"
    df = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey", "l_partkey", "l_quantity",
            "l_extendedprice", "l_shipdate",
        )
    )
    df.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "sink_partitioned_prune",
    oracle="""
    SELECT event_id, user_id, value, event_type
    FROM events WHERE event_type = 'purchase'
    """,
)
def sink_partitioned_prune(spark, sf_dir):
    # Hive-style partitioned sink + partition-pruned read-back: the
    # layout analog of the reference's rewards_block_idx B-tree
    # (migrations/V1:11) — the predicate on the partition column never
    # touches non-matching directories (PartitionFilters in the scan,
    # zero data files read outside event_type=purchase). The exact
    # oracle proves the partition column survives the directory
    # round-trip with its values intact.
    out = scratch_dir("sink_part") + "/t"
    load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    ).write.mode("overwrite").partitionBy("event_type").parquet(out)
    return (
        spark.read.parquet(out)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value", "event_type")
    )


@query(
    "sink_compact_files",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def sink_compact_files(spark, sf_dir):
    # Small-file compaction round-trip: scatter lineitem across 64
    # deliberately tiny files (the reference's one-INSERT-per-block
    # append pattern, src/reward.rs:38-44), then compact to ~4 MiB
    # targets sized from ACTUAL input bytes (etl/compact.py). The
    # exact oracle proves compaction is content-preserving; the test
    # suite asserts the file count actually drops.
    from ..etl.compact import compact_parquet

    base = scratch_dir("sink_compact")
    small, packed = base + "/small", base + "/packed"
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    ).repartition(64).write.mode("overwrite").parquet(small)
    compact_parquet(spark, small, packed)
    return spark.read.parquet(packed)


@query(
    "source_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def source_schema_evolution(spark, sf_dir):
    # Schema evolution on an append sink — the lakehouse reality that a
    # long-lived table's early files lack columns added later. Batch 1
    # (even keys) lands without o_orderpriority; batch 2 (odd keys)
    # adds it. mergeSchema=true reads the union schema, null-filling
    # the old files — proven exactly by the oracle's UNION ALL with the
    # typed NULL. (Per-file footer merging is driver-side metadata;
    # data files are not rewritten — the at-scale behavior.)
    out = scratch_dir("source_evo") + "/t"
    orders = load_table(spark, sf_dir, "orders")
    orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(out)
    orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("append").parquet(out)
    return spark.read.option("mergeSchema", "true").parquet(out).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )


@query(
    "sink_bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderkey,
           ROUND(o.o_totalprice, 2) AS total_price,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def sink_bucketed_colocated_join(spark, sf_dir):
    # The pay-once layout for recurring fact-fact joins: both sides
    # written bucketed+sorted on the join key, so the join is a
    # sort-merge with NO Exchange on either side, and the per-order
    # aggregation rides the same bucket distribution (grouping keys ⊇
    # partitioning key ⇒ no exchange there either) — the whole
    # join+agg plan is shuffle-free. At 100 TB this is the difference
    # between shuffling both fact tables on every nightly join and
    # shuffling them once at layout time (operators/scale.py
    # write_bucketed/bucketed_join; plan test pins zero shuffles).
    from ..operators.scale import bucketed_join

    left = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    right = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    j = bucketed_join(
        spark, left, right, "o_orderkey", n_buckets=8, name_prefix="q_bkt"
    )
    return j.groupBy(
        "o_orderkey", F.round("o_totalprice", 2).alias("total_price")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


@query(
    "source_csv_permissive_corrupt",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'alpha', 10, NULL),
      (2, 'beta', NULL, '2,beta,notanumber'),
      (3, 'gam,ma', 30, NULL),
      (NULL, 'enough', NULL, 'not,enough'),
      (5, 'eps', -7, NULL)
    ) AS t(id, name, qty, corrupt_record)
    """,
)
def source_csv_permissive_corrupt(spark, sf_dir):
    # Real-world ingestion: a CSV with a type-bad row, a quoted
    # delimiter, and a short row, read under PERMISSIVE mode with a
    # corrupt-record column — bad rows survive as evidence instead of
    # killing the job (the triage-later pattern; FAILFAST is the
    # fail-stop twin the reference's enum validation models, E8).
    # Deterministic: the file content is literal, so the parse result
    # is a fixed 5-row table the oracle states as VALUES.
    import os

    from ..scratch import scratch_dir

    d = scratch_dir("csv_permissive")
    path = os.path.join(d, "rows.csv")
    with open(path, "w") as f:
        f.write(
            "1,alpha,10\n"
            "2,beta,notanumber\n"      # type-bad qty
            '3,"gam,ma",30\n'          # quoted delimiter
            "not,enough\n"             # short row, bad id type
            "5,eps,-7\n"
        )
    out = (
        spark.read.schema("id int, name string, qty int, corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_record")
        .csv(path)
    )
    return out.select("id", "name", "qty", "corrupt_record")


@query(
    "source_python_datasource",
    oracle="""
    SELECT o_orderkey AS height,
           md5(CAST(o_orderkey AS VARCHAR)) AS block_hash,
           strftime(o_orderdate, '%Y-%m-%d') AS block_date,
           o_orderkey % 50 AS n_txns
    FROM orders
    """,
)
def source_python_datasource(spark, sf_dir):
    """Spark 4 Python DataSource API end-to-end: a deterministic block
    feed derived from `orders` lands as JSON-lines, then reads back
    through the registered `blocks_jsonl` format
    (sources/python_datasource.py) — the executor-parallel evolution of
    the reference's driver-serial JSON-RPC block fetch
    (src/block_processor.rs:29,58). One InputPartition per file; the
    exact oracle proves the custom reader is lossless against the same
    derivation stated in SQL."""
    from ..sources import python_datasource

    out = scratch_dir("pyds_blocks") + "/blocks"
    blocks = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("height"),
        F.md5(F.col("o_orderkey").cast("string")).alias("block_hash"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("block_date"),
        F.pmod(F.col("o_orderkey"), F.lit(50)).alias("n_txns"),
    )
    blocks.repartition(4).write.mode("overwrite").json(out)
    python_datasource.register(spark)
    return spark.read.format("blocks_jsonl").option("path", out).load()


@query(
    "sink_snapshot_time_travel",
    oracle="""
    SELECT 1 AS version,
           COUNT(*) AS n_rows,
           ROUND(SUM(value), 2) AS sum_value
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 2 AS version,
           COUNT(*) AS n_rows,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    ORDER BY version
    """,
)
def sink_snapshot_time_travel(spark, sf_dir):
    """Time travel over the transactional snapshot sink
    (etl/snapshot.py): two atomic commits (even event_ids, then odd),
    then BOTH versions read back — version 1 must still see exactly the
    first commit after version 2 lands, because manifests are immutable
    and data dirs append-only (the reference's per-block BEGIN..COMMIT
    extended with history, the Iceberg/Delta snapshot-isolation pattern
    rebuilt from primitives). The exact oracle states both versions'
    aggregates straight from `events`."""
    from ..etl.snapshot import commit_batch_atomic, read_snapshot

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("block"), F.col("value")
    )
    root = scratch_dir("snapshot_tt")
    b1 = ev.where(F.col("block") % 2 == 0)
    b2 = ev.where(F.col("block") % 2 == 1)
    hi = ev.agg(F.max("block")).first()[0]
    commit_batch_atomic(
        spark, root, {"rewards": b1}, lo=0, hi=int(hi), height=int(hi),
        first_block=0, heights=b1.select("block"),
    )
    commit_batch_atomic(
        spark, root, {"rewards": b2}, lo=0, hi=int(hi), height=int(hi),
        first_block=0, heights=b2.select("block"),
    )
    v1 = read_snapshot(spark, root, "rewards", version=1)
    v2 = read_snapshot(spark, root, "rewards", version=2)

    def summarize(df, ver):
        return df.agg(
            F.lit(ver).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ).select("version", "n_rows", "sum_value")

    return summarize(v1, 1).unionByName(summarize(v2, 2)).orderBy("version")


def _cdc_fixture_commit1(spark, sf_dir, root):
    """Commit 1 of the shared CDC fixture (every sink_snapshot_changes*
    / stream_cdc_mirror* query proves its consumer against the SAME
    two-commit story): land every event as (block, value). Returns
    (ev, hi, ranges5) for commit 2.

    r15 (guide §1.2): ONE aggregation job computes max(block) AND both
    commits' claimed block-range sets (distinct floor(block/1000) over
    all blocks for commit 1 / over the %5 re-claim for commit 2) —
    formerly a max job plus one range-collect job inside each
    commit_batch_atomic call: three driver jobs for the same scan's
    worth of metadata. Claim semantics are unchanged (the sets equal
    what commit_batch_atomic would derive from `heights` itself)."""
    from ..etl.snapshot import commit_batch_atomic

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("block"), F.col("value")
    )
    rng = F.floor(F.col("block") / F.lit(1000)).cast("long")
    st = ev.agg(
        F.max("block").alias("hi"),
        F.collect_set(rng).alias("r_all"),
        F.collect_set(F.when(F.col("block") % 5 == 0, rng)).alias("r5"),
    ).first()
    hi = int(st["hi"])
    commit_batch_atomic(
        spark, root, {"rewards": ev}, lo=0, hi=hi, height=hi,
        first_block=0, heights=ev.select("block"),
        touched_ranges={int(r) for r in st["r_all"]},
    )
    return ev, hi, {int(r) for r in st["r5"]}


def _cdc_fixture_commit2(spark, ev, root, hi, ranges5):
    """Commit 2: re-claim the block%5 rows but re-emit only the %10
    rows with value+1 — so the v1->v2 delta is exactly {updates of %10,
    deletes of %5-but-not-%10}. One definition; the five consumers and
    their oracles all state this story. ``ranges5`` = the %5 claim's
    precomputed block-range set from commit 1's stats pass."""
    from ..etl.snapshot import commit_batch_atomic

    claimed = ev.where(F.col("block") % 5 == 0).select("block")
    replaced = ev.where(F.col("block") % 10 == 0).withColumn(
        "value", F.col("value") + F.lit(1.0)
    )
    commit_batch_atomic(
        spark, root, {"rewards": replaced}, lo=0, hi=hi,
        height=hi, first_block=0, heights=claimed,
        touched_ranges=ranges5,
    )


@query(
    "sink_snapshot_changes",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS block,
           value + 1.0 AS value,
           'insert' AS _change_type
    FROM events WHERE event_id % 10 = 0
    UNION ALL
    SELECT CAST(event_id AS BIGINT) AS block,
           value AS value,
           'delete' AS _change_type
    FROM events WHERE event_id % 5 = 0
    """,
)
def sink_snapshot_changes(spark, sf_dir):
    """Version-diff (CDC) read over the transactional snapshot sink —
    the incremental twin of sink_snapshot_time_travel, and the first
    query a downstream consumer of the follower tables actually runs
    ("what changed since the version I last synced?"). Fixture: commit
    1 lands every event; commit 2 re-claims the event_id%5==0 blocks
    but only re-emits the %10==0 rows with value+1 — so the v1->v2
    change feed is exactly {updated rows as delete+insert pairs,
    dropped rows as deletes}, stated independently by the oracle.

    Scale shape (etl/snapshot.py read_changes): the manifests'
    fragment lists are diffed DRIVER-SIDE (control plane,
    O(#fragments) like Delta's log replay); only removed and added
    fragments are read at all, then exceptAll in both directions —
    multiset semantics — yields the row-level feed. A steady-state
    follower adds a handful of fragments per commit, so the diff IO is
    O(churn), not O(table); row-level arithmetic (value+1.0) is
    FP-exact on both engines."""
    from ..etl.snapshot import read_changes

    root = scratch_dir("snapshot_cdc")
    ev, hi, r5 = _cdc_fixture_commit1(spark, sf_dir, root)
    _cdc_fixture_commit2(spark, ev, root, hi, r5)
    return read_changes(spark, root, "rewards", v_from=1, v_to=2).select(
        "block", "value", "_change_type"
    )


@query(
    "sink_snapshot_changes_apply",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS block, value
    FROM events WHERE event_id % 5 <> 0
    UNION ALL
    SELECT CAST(event_id AS BIGINT) AS block, value + 1.0 AS value
    FROM events WHERE event_id % 10 = 0
    """,
)
def sink_snapshot_changes_apply(spark, sf_dir):
    """The CDC consumer side: apply the v1->v2 change feed to a copy of
    v1 and get EXACTLY v2 — the end-to-end contract that makes
    read_changes useful to a downstream materialized view (subscribe
    once, apply (base ∪ inserts) \\ deletes per sync, never re-scan the
    table). Same two-commit fixture as sink_snapshot_changes; the
    oracle states v2's content INDEPENDENTLY from `events` (survivors +
    updated images), so a feed that dropped, duplicated, or mis-tagged
    any row hash-mismatches. Multiset apply via unionByName+exceptAll —
    both hash-partitioned, no driver materialization."""
    from ..etl.snapshot import read_changes, read_snapshot

    root = scratch_dir("snapshot_cdc_apply")
    ev, hi, r5 = _cdc_fixture_commit1(spark, sf_dir, root)
    _cdc_fixture_commit2(spark, ev, root, hi, r5)
    base = read_snapshot(spark, root, "rewards", version=1).select("block", "value")
    feed = read_changes(spark, root, "rewards", v_from=1, v_to=2)
    ins = feed.where(F.col("_change_type") == "insert").select("block", "value")
    dels = feed.where(F.col("_change_type") == "delete").select("block", "value")
    return base.unionByName(ins).exceptAll(dels)


@query(
    "sink_snapshot_changes_updates",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS block,
           value AS value,
           'update_preimage' AS _change_type
    FROM events WHERE event_id % 10 = 0
    UNION ALL
    SELECT CAST(event_id AS BIGINT) AS block,
           value + 1.0 AS value,
           'update_postimage' AS _change_type
    FROM events WHERE event_id % 10 = 0
    UNION ALL
    SELECT CAST(event_id AS BIGINT) AS block,
           value AS value,
           'delete' AS _change_type
    FROM events WHERE event_id % 5 = 0 AND event_id % 10 <> 0
    """,
)
def sink_snapshot_changes_updates(spark, sf_dir):
    """KEYED CDC feed with the Delta-CDF update contract (r9 verdict
    item 5): the same two-commit fixture as sink_snapshot_changes, read
    back with key_cols=['block'] — so a key whose row changed in place
    (the %10 rows, value+1) now emits a paired 'update_preimage' /
    'update_postimage' instead of an anonymous delete+insert, while
    rows that truly vanished (%5 but not %10) stay plain deletes. The
    oracle states all three change classes independently from `events`;
    a feed that mis-paired, dropped, or double-tagged any key
    hash-mismatches. The apply(v1, keyed feed) == v2 end-to-end proof
    (upsert postimages by key, remove deleted keys) is pinned by
    tests/test_snapshot.py alongside the replay/crash suite.

    Scale shape: pairing adds one intersect + four semi/anti joins, all
    keyed on the O(churn)-bounded diff — never on the table; the plain
    insert/delete feed (key_cols=None) is byte-identical to before, so
    the mirror/curation streaming consumers are untouched."""
    from ..etl.snapshot import read_changes

    root = scratch_dir("snapshot_cdc_updates")
    ev, hi, r5 = _cdc_fixture_commit1(spark, sf_dir, root)
    _cdc_fixture_commit2(spark, ev, root, hi, r5)
    return read_changes(
        spark, root, "rewards", v_from=1, v_to=2, key_cols=["block"]
    ).select("block", "value", "_change_type")


@query(
    "stream_cdc_mirror",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS block, value
    FROM events WHERE event_id % 5 <> 0
    UNION ALL
    SELECT CAST(event_id AS BIGINT) AS block, value + 1.0 AS value
    FROM events WHERE event_id % 10 = 0
    """,
)
def stream_cdc_mirror(spark, sf_dir):
    """The FOLLOWING consumer of the change feed, driver-checked end to
    end: same two-commit fixture as sink_snapshot_changes_apply, but
    the apply runs through the consumer loop — streaming/mirror.py
    follow_changes reads the feed from the source version the mirror
    store last applied (its manifest cursor) and hands it to the
    idempotent versioned apply. It runs TWICE: a bootstrap after
    commit 1, then, after commit 2, a restart that resumes from the
    store's cursor alone (the kill/catch-up cycle). The oracle states
    v2's content INDEPENDENTLY from `events`, so a consumer that
    double-applied a replayed batch, missed a delta, or mis-folded
    deletes hash-mismatches. The batch twin proves feed correctness;
    this proves the CONSUMER — together they close the subscribe-apply
    contract."""
    from ..streaming import mirror

    root = scratch_dir("stream_cdc_mirror_src")
    mdir = scratch_dir("stream_cdc_mirror_dst")
    ev, hi, r5 = _cdc_fixture_commit1(spark, sf_dir, root)
    apply = mirror.apply_changes_batch
    mirror.follow_changes(spark, root, "rewards", mdir, apply)
    _cdc_fixture_commit2(spark, ev, root, hi, r5)
    mirror.follow_changes(spark, root, "rewards", mdir, apply)
    return mirror.read_mirror(spark, mdir).select("block", "value")


@query(
    "stream_cdc_mirror_keyed",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS block, value
    FROM events WHERE event_id % 5 <> 0
    UNION ALL
    SELECT CAST(event_id AS BIGINT) AS block, value + 1.0 AS value
    FROM events WHERE event_id % 10 = 0
    """,
)
def stream_cdc_mirror_keyed(spark, sf_dir):
    """The KEYED (upsert-by-key) CDC consumer — third consumer proving
    the same v2 fixed point as stream_cdc_mirror and
    sink_snapshot_changes_apply, through a genuinely different apply:
    every block the feed touches is replaced wholesale (the snapshot
    commit claims the feed's blocks) instead of multiset exceptAll on
    row images. Same two-commit fixture, two follow_changes calls with
    a restart from the store's cursor between (the kill/catch-up
    cycle), same independent oracle. Why it earns a row: keyed apply
    reconverges to the source even when the mirror's row images
    drifted (multiset apply would strand the stale image AND duplicate
    the key — tests/test_sources_streaming.py pins exactly that
    divergence)."""
    from ..streaming import mirror

    root = scratch_dir("stream_cdc_keyed_src")
    mdir = scratch_dir("stream_cdc_keyed_dst")
    ev, hi, r5 = _cdc_fixture_commit1(spark, sf_dir, root)
    apply = mirror.apply_changes_batch_keyed
    mirror.follow_changes(spark, root, "rewards", mdir, apply)
    _cdc_fixture_commit2(spark, ev, root, hi, r5)
    mirror.follow_changes(spark, root, "rewards", mdir, apply)
    return mirror.read_mirror(spark, mdir).select("block", "value")


from ..operators.zorder import (  # noqa: E402
    minmax_scale_sql,
    z_interleave_duckdb_sql,
    z_interleave_spark_sql,
)

_Z_DUCK = z_interleave_duckdb_sql(
    minmax_scale_sql("duckdb", "l_partkey", "pmin", "pmax"),
    minmax_scale_sql("duckdb", "l_suppkey", "smin", "smax"),
)
_Z_SPARK = z_interleave_spark_sql(
    minmax_scale_sql("spark", "l_partkey", "pmin", "pmax"),
    minmax_scale_sql("spark", "l_suppkey", "smin", "smax"),
)


@query(
    "sink_zorder_cluster",
    oracle=f"""
    WITH b AS (
      SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
             MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
      FROM lineitem
    ),
    z AS (
      SELECT l_partkey, l_suppkey, {_Z_DUCK} AS zval
      FROM lineitem, b
    )
    SELECT CAST(l_suppkey % 10 AS BIGINT) AS supp_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(zval) AS BIGINT) AS sum_zval,
           CAST(MIN(zval) AS BIGINT) AS min_zval,
           CAST(MAX(zval) AS BIGINT) AS max_zval
    FROM z WHERE l_partkey BETWEEN 100 AND 199
    GROUP BY l_suppkey % 10
    ORDER BY supp_bucket
    """,
)
def sink_zorder_cluster(spark, sf_dir):
    """Z-order clustered write + clustered read-back — multi-dim data
    skipping (operators/zorder.py; the Delta/Iceberg OPTIMIZE ZORDER
    layout on stock Spark). lineitem is written repartitionByRange +
    sortWithinPartitions on the Morton interleave of (l_partkey,
    l_suppkey), so every parquet file covers a narrow zval range and
    therefore a BOUNDED min/max box on BOTH keys: footer stats prune
    row groups for predicates on either column, where a single-key
    sort only prunes its own column. The curve is engine-identical
    integer bit math (generated for both dialects from one bit-layout
    loop), so the post-roundtrip filtered aggregate is hash-exact.
    tests/test_plans.py asserts the layout claim itself: per-file
    footer extents on the NON-leading dimension shrink vs a
    single-key sort layout."""
    out = scratch_dir("sink_zorder") + "/t"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    )
    z = li.crossJoin(F.broadcast(bounds)).withColumn(
        "zval", F.expr(_Z_SPARK).cast("long")
    ).select("l_orderkey", "l_partkey", "l_suppkey", "zval")
    (
        z.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.where(F.col("l_partkey").between(100, 199))
        .groupBy((F.col("l_suppkey") % 10).alias("supp_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("zval").alias("sum_zval"),
            F.min("zval").alias("min_zval"),
            F.max("zval").alias("max_zval"),
        )
        .orderBy("supp_bucket")
    )


@query(
    "sink_file_skipping_index",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sink_file_skipping_index(spark, sf_dir):
    """Min/max FILE-SKIPPING index over a range-clustered sink — data
    skipping on a NON-partition column, the other half of lakehouse
    pruning (sink_partitioned_prune covers directory pruning).
    lineitem lands via repartitionByRange(l_shipdate) so every file
    carries a tight date range; the index is built from parquet
    FOOTERS only (distributed mapInPandas over the file list,
    etl/skipping.py — KBs of metadata per file, zero row data); the
    1996 ship-year query then reads ONLY intersecting files (pytest
    pins inputFiles < total) plus the residual filter for file-edge
    rows. The oracle proves skipped files contained no qualifying
    rows. At 100 TB this is why you CLUSTER on query columns: scan
    cost becomes proportional to the selected range, with or without
    a table format. Sum is exact: l_quantity is integral-valued."""
    from ..etl.skipping import build_minmax_index, prune_files

    out = scratch_dir("sink_skip") + "/t"
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_shipdate"
    ).repartitionByRange(8, "l_shipdate").write.mode("overwrite").parquet(out)

    index = build_minmax_index(spark, out, "l_shipdate")
    lo, hi = "1996-01-01 00:00:00", "1997-01-01 00:00:00"
    files = prune_files(index, lo, hi)
    return (
        spark.read.parquet(*files)
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "sink_bloom_skipping_index",
    oracle="""
    WITH pk AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey % 97 = 1
      ORDER BY o_orderkey LIMIT 5)
    SELECT o.o_orderkey, o.o_custkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents
    FROM orders o JOIN pk ON o.o_orderkey = pk.o_orderkey
    ORDER BY o.o_orderkey
    """,
)
def sink_bloom_skipping_index(spark, sf_dir):
    """Per-file BLOOM skipping index — the point-lookup half of
    data skipping, next to sink_file_skipping_index's min/max half
    (scans.py:666): orders land hash-clustered on o_custkey, so every
    file's o_orderkey RANGE spans the whole table and min/max stats
    prune NOTHING — exactly the layout where Delta's bloom-filter
    index earns its keep. The index is one bloom per file (m sized
    from measured rows-per-file at ~16 bits/key, stored as 32-bit
    words in BIGINTs — the same engine-portable md5/bit_or sketch as
    agg_bloom_filter_probe), built in ONE distributed pass with
    input_file_name() + a (file, word) bit_or hash agg (map-side
    combinable; at 100 TB the build merges per-partition blooms by OR,
    and maintenance is per-NEW-file only). A 10-key probe (5 present,
    5 constructed absent) joins its k=3 bit positions against the
    index; only files setting all three bits for a key are read —
    pytest pins candidate files << total and absent keys pruning to
    zero files. The oracle restates the final fetch from raw orders,
    proving skipped files held no qualifying rows. Driver traffic is
    bounded: 10 probe keys + the surviving file list."""
    from ..etl.skipping import (
        bloom_bits_for,
        bloom_candidate_files,
        build_bloom_index,
    )
    from ..scratch import scratch_dir

    out = scratch_dir("sink_bloom_skip") + "/t"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    orders.repartition(8, "o_custkey").write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)

    n_total = back.count()
    n_files = back.select(F.input_file_name()).distinct().count()
    m_bits = bloom_bits_for(n_total, n_files)
    index = build_bloom_index(back, "o_orderkey", m_bits)

    present = (
        back.select("o_orderkey")
        .where(F.col("o_orderkey") % 97 == 1)
        .orderBy("o_orderkey")
        .limit(5)
    )
    mx = back.agg(F.max("o_orderkey").alias("mx"))
    absent = (
        spark.range(1, 6)
        .crossJoin(F.broadcast(mx))
        .select((F.col("mx") + F.col("id")).alias("o_orderkey"))
    )
    probe = present.unionByName(absent)
    candidates = bloom_candidate_files(index, probe, "o_orderkey", m_bits)
    files = [r["file"] for r in candidates.select("file").distinct().collect()]
    keys = [r["o_orderkey"] for r in probe.collect()]
    if not files:
        # every probe key pruned everywhere (possible only if all
        # probes are absent) — an empty, correctly-typed result.
        return (
            back.select("o_orderkey", "o_custkey", "total_cents")
            .where(F.lit(False))
        )
    return (
        spark.read.parquet(*files)
        .where(F.col("o_orderkey").isin(keys))
        .select("o_orderkey", "o_custkey", "total_cents")
        .orderBy("o_orderkey")
    )
