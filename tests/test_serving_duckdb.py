"""The serving helpers answer from in-process DuckDB over the fragment
files register_views pinned; each answer must equal Spark SQL over the
views the same call registered: same rows, same column names and order.

The store is a follower store (fixture chain, 20-block ranges) plus one
hand-written commit holding what the fixture chain lacks: a top-k tie,
a sentinel reward larger than any gateway's earnings, and payloads for
each JSON-extraction case."""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

import pytest
from pyspark.sql import Row

from helium_etl_lite_spark import serving
from helium_etl_lite_spark.etl import fixtures
from helium_etl_lite_spark.etl.pipeline import FollowerConfig, IncrementalFollower
from helium_etl_lite_spark.etl.schemas import (
    REWARDS_OUT_SCHEMA,
    SENTINEL,
    TRANSACTIONS_OUT_SCHEMA,
)
from helium_etl_lite_spark.etl.snapshot import SnapshotStore, commit_batch_atomic
from helium_etl_lite_spark.sources.block_source import LandedBlockSource

RANGE = 20
TIP = 1059  # the follower's tip; the hand-written commit lands above it
PROBE = "probe_v1"
MALFORMED = "probe_malformed_v1"
PAYLOADS = {
    "nested": '{"obj":{"k":"v","n":[1,2]},"a":[{"b":1},{"b":"two"}]}',
    "unicode": '{"name":"caf\\u00e9"}',
    "null": '{"name":null,"obj":null}',
    "absent": '{"other":1}',
    "not_json": "not json",
}
# Malformed payloads the two JSON parsers disagree on (serving.py).
DISAGREE = {"trailing_comma": '{"name":"x",}', "trailing_garbage": '{"name":"x"} tail'}


def _rewards(spark, rows):
    return spark.createDataFrame(
        [(b, f"rtx-{b}-{i}", 0, "acct", gw, amount, "poc_witness")
         for i, (b, gw, amount) in enumerate(rows)],
        REWARDS_OUT_SCHEMA,
    )


def _transactions(spark, rows):
    return spark.createDataFrame(rows, TRANSACTIONS_OUT_SCHEMA)


def _commit(spark, out_dir, lo, hi, rewards, transactions):
    return commit_batch_atomic(
        spark, out_dir,
        {"rewards": _rewards(spark, rewards), "transactions": _transactions(spark, transactions)},
        lo, hi, height=hi, first_block=1000, range_size=RANGE,
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("serving_duckdb") / "out")
    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=TIP - 1000 + 1)
    IncrementalFollower(
        spark, LandedBlockSource(blocks, txns),
        FollowerConfig(mode="full", backfill=True, out_dir=out_dir, block_range_size=RANGE),
    ).catch_up()
    _commit(
        spark, out_dir, TIP + 1, TIP + 10,
        [(TIP + 1, "gw-tie-b", 10**9), (TIP + 2, "gw-tie-a", 10**9), (TIP + 3, SENTINEL, 10**12)],
        [(TIP + 4, f"probe-{name}", PROBE, fields) for name, fields in PAYLOADS.items()]
        + [(TIP + 5, f"probe-{name}", MALFORMED, fields) for name, fields in DISAGREE.items()],
    )
    return out_dir


def _rows(rows, ordered=True):
    """Column names, order and values of each row; unordered results
    are sorted."""
    out = [tuple(r.asDict().items()) for r in rows]
    return out if ordered else sorted(out, key=repr)


def _spark_answers(spark):
    """Spark SQL over the registered views: what each helper stands for."""

    def topk(k):
        return spark.sql(
            f"SELECT gateway, SUM(amount) AS earned, COUNT(*) AS n_rewards FROM rewards "
            f"WHERE gateway <> '{SENTINEL}' GROUP BY gateway ORDER BY earned DESC, gateway LIMIT {k}"
        ).collect()

    def block_range(lo, hi):
        return spark.sql(
            f"SELECT block, SUM(amount) AS total_amount, COUNT(*) AS n_rewards FROM rewards "
            f"WHERE block BETWEEN {lo} AND {hi} GROUP BY block ORDER BY block"
        ).collect()

    def by_hash(h):
        return spark.sql(f"SELECT * FROM transactions WHERE hash = '{h}'").collect()

    def by_type(t, path=None):
        field = "" if path is None else f", get_json_object(fields, '{path}') AS field"
        return spark.sql(f"SELECT *{field} FROM transactions WHERE type = '{t}'").collect()

    return {"topk": topk, "block_range": block_range, "by_hash": by_hash, "by_type": by_type}


def _assert_same(spark, cases):
    """Every (helper, args) case answers as Spark does over the views."""
    want = _spark_answers(spark)
    helpers = {
        "topk": serving.gateway_earnings_topk,
        "block_range": serving.rewards_in_block_range,
        "by_hash": serving.transaction_by_hash,
        "by_type": serving.transactions_by_type,
    }
    for kind, *args in cases:
        got = helpers[kind](spark, *args).collect()
        assert all(isinstance(r, Row) for r in got)
        ordered = kind in ("topk", "block_range")
        assert _rows(got, ordered) == _rows(want[kind](*args), ordered), (kind, args)


def test_helpers_answer_as_spark_over_the_views(spark, store):
    serving.register_views(spark, store)
    some_hash = spark.sql("SELECT hash FROM transactions WHERE type = 'payment_v2' LIMIT 1").first()[0]
    _assert_same(spark, [
        ("topk", 1), ("topk", 3), ("topk", 500),
        ("block_range", 1000, 1059), ("block_range", 1015, 1045), ("block_range", 2000, 3000),
        ("by_hash", some_hash), ("by_hash", "probe-nested"), ("by_hash", "no-such-hash"),
        ("by_type", "payment_v2"), ("by_type", "payment_v2", "$.payer"),
        ("by_type", "rewards_v2", "$.start_epoch"),
        ("by_type", PROBE, "$.obj"), ("by_type", PROBE, "$.a[1].b"), ("by_type", PROBE, "$.name"),
    ])


def test_topk_excludes_the_sentinel_and_breaks_ties_by_gateway(spark, store):
    serving.register_views(spark, store)
    top = serving.gateway_earnings_topk(spark, 2).collect()
    assert [(r["gateway"], r["earned"]) for r in top] == [("gw-tie-a", 10**9), ("gw-tie-b", 10**9)]
    everyone = serving.gateway_earnings_topk(spark, 10**6).collect()
    assert SENTINEL not in {r["gateway"] for r in everyone}


@pytest.mark.parametrize(
    "path, want",
    [
        ("$.obj", {"nested": '{"k":"v","n":[1,2]}'}),
        ("$.a[1].b", {"nested": "two"}),
        ("$.name", {"unicode": "café"}),
    ],
)
def test_json_extraction(spark, store, path, want):
    # JSON null, an absent key and a payload that is not JSON give NULL.
    serving.register_views(spark, store)
    rows = serving.transactions_by_type(spark, PROBE, path).collect()
    assert list(rows[0].asDict()) == ["block", "hash", "type", "fields", "block_range", "field"]
    got = {r["hash"].removeprefix("probe-"): r["field"] for r in rows}
    assert got == {name: want.get(name) for name in PAYLOADS}


def test_the_parsers_disagree_only_where_documented(spark, store):
    serving.register_views(spark, store)
    duck = serving.transactions_by_type(spark, MALFORMED, "$.name").collect()
    jackson = _spark_answers(spark)["by_type"](MALFORMED, "$.name")

    def fields(rows):
        return {r["hash"].removeprefix("probe-"): r["field"] for r in rows}

    assert fields(duck) == {"trailing_comma": "x", "trailing_garbage": None}
    assert fields(jackson) == {"trailing_comma": None, "trailing_garbage": "x"}


def test_transaction_by_hash_scans_the_pinned_files(spark, store):
    serving.register_views(spark, store)
    read = serving.transaction_by_hash(spark, "probe-nested")
    files = read.inputFiles()
    manifest = SnapshotStore(store).current()
    assert len(files) == sum(len(f) for f in manifest["tables"]["transactions"].values())
    assert all(f.endswith(".parquet") and os.path.isfile(f) for f in files)
    [row] = read.collect()
    assert (row["block"], row["type"], row["block_range"]) == (TIP + 4, PROBE, (TIP + 4) // RANGE)


def test_at_version_pins_the_older_snapshot(spark, store):
    before = SnapshotStore(store).current()["version"] - 1
    serving.register_views(spark, store, at_version=before)
    assert serving.transaction_by_hash(spark, "probe-nested").collect() == []
    assert serving.gateway_earnings_topk(spark, 1).collect()[0]["gateway"] != "gw-tie-a"
    _assert_same(spark, [("topk", 5), ("block_range", 1000, 1100), ("by_type", PROBE, "$.name")])


def test_replayed_range_reads_only_the_new_fragment(spark, store, tmp_path):
    out_dir = str(tmp_path / "out")
    shutil.copytree(store, out_dir)
    old = SnapshotStore(out_dir).current()
    _commit(
        spark, out_dir, TIP + 1, TIP + 10,
        [(TIP + 1, "gw-replayed", 7)],
        [(TIP + 4, "probe-replayed", PROBE, '{"name":"again"}')],
    )
    superseded = serving._fragment_files(out_dir, old, "transactions")
    assert all(os.path.isfile(f) for f in superseded)  # still on disk until vacuum
    serving.register_views(spark, out_dir)
    read = serving.transactions_by_type(spark, PROBE, "$.name")
    assert set(superseded) - set(read.inputFiles())
    assert [(r["hash"], r["field"]) for r in read.collect()] == [("probe-replayed", "again")]
    assert serving.gateway_earnings_topk(spark, 1).collect()[0]["gateway"] != "gw-tie-a"
    _assert_same(spark, [("topk", 5), ("block_range", TIP - 5, TIP + 10), ("by_hash", "probe-nested")])


def test_a_commit_after_register_views_stays_invisible_until_the_next_call(spark, store, tmp_path):
    out_dir = str(tmp_path / "out")
    shutil.copytree(store, out_dir)
    serving.register_views(spark, out_dir)
    before = serving.rewards_in_block_range(spark, TIP + 11, TIP + 20)
    assert before.collect() == []
    _commit(
        spark, out_dir, TIP + 11, TIP + 20,
        [(TIP + 11, "gw-late", 5)],
        [(TIP + 11, "late", PROBE, json.dumps({"name": "late"}))],
    )
    assert before.collect() == []
    assert serving.transaction_by_hash(spark, "late").collect() == []
    _assert_same(spark, [("block_range", TIP + 11, TIP + 20), ("by_hash", "late")])
    serving.register_views(spark, out_dir)
    assert [tuple(r) for r in serving.rewards_in_block_range(spark, TIP + 11, TIP + 20).collect()] == [
        (TIP + 11, 5, 1)
    ]
    _assert_same(spark, [("block_range", TIP + 11, TIP + 20), ("by_hash", "late")])


def test_reads_from_many_threads_agree_with_one(spark, store):
    # More threads than cores, each on its own cursor of the one
    # connection, with a short switch interval to interleave them.
    serving.register_views(spark, store)
    reads = [
        serving.gateway_earnings_topk(spark, 20),
        serving.rewards_in_block_range(spark, 1000, 1069),
        serving.transaction_by_hash(spark, "probe-unicode"),
        serving.transactions_by_type(spark, PROBE, "$.name"),
    ]
    want = [_rows(r.collect(), ordered=False) for r in reads]
    n_threads = 2 * (os.cpu_count() or 1) + 1
    errors, done = [], []

    def work(i):
        try:
            for j in range(20):
                read = reads[(i + j) % len(reads)]
                assert _rows(read.collect(), ordered=False) == want[(i + j) % len(reads)]
            done.append(i)
        except Exception as e:  # the main thread asserts none was raised
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and sorted(done) == list(range(n_threads))
