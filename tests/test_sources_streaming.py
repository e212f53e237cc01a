"""Source-layer and stateful-streaming tests."""

from __future__ import annotations

import pytest

# r15 heavy lane: structured-streaming drains (465 s) on the r15 sandbox — runs with
# SPARK_GRAFT_TEST_LANE=full (or -m heavy); see tests/conftest.py.
pytestmark = pytest.mark.heavy

import json
import os


from pyspark.sql import functions as F

from helium_etl_lite_spark.etl import fixtures, transforms
from helium_etl_lite_spark.etl.pipeline import CursorStore, FollowerConfig, IncrementalFollower
from helium_etl_lite_spark.sources.block_source import FakeRpcClient, RpcBlockSource


def _chain_as_dicts(spark):
    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=40)
    blocks_by_h = {
        r["height"]: {
            "height": r["height"],
            "time": r["time"],
            "hash": r["hash"],
            "transactions": [{"type": t["type"], "hash": t["hash"]} for t in r["transactions"]],
        }
        for r in blocks.collect()
    }
    txns_by_hash = {r["hash"]: json.loads(r["fields"]) for r in txns.collect()}
    return blocks, txns, blocks_by_h, txns_by_hash


class _CountingRpcClient(FakeRpcClient):
    def __init__(self, *args):
        super().__init__(*args)
        self.calls = {"height": 0, "get_block_raw": 0, "get_transaction": 0}

    def height(self) -> int:
        self.calls["height"] += 1
        return super().height()

    def get_block_raw(self, height: int) -> dict:
        self.calls["get_block_raw"] += 1
        return super().get_block_raw(height)

    def get_transaction(self, hash: str) -> dict:
        self.calls["get_transaction"] += 1
        return super().get_transaction(hash)


class TestSources:
    def test_parquet_and_json_sources_roundtrip(self, spark, tmp_path):
        # The landed source as the CLI builds it: parquet by default,
        # JSON-lines when source_format = "json".
        from helium_etl_lite_spark import cli

        blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=40)
        bp, tp = str(tmp_path / "b"), str(tmp_path / "t")
        blocks.write.mode("overwrite").parquet(bp)
        txns.write.mode("overwrite").parquet(tp)
        bj, tj = str(tmp_path / "bj"), str(tmp_path / "tj")
        blocks.write.mode("overwrite").json(bj)
        txns.write.mode("overwrite").json(tj)
        out = str(tmp_path / "out")
        src = cli._follower(spark, {"blocks_path": bp, "txns_path": tp, "out_dir": out}).source
        jsrc = cli._follower(
            spark,
            {"blocks_path": bj, "txns_path": tj, "out_dir": out, "source_format": "json"},
        ).source
        for s in (src, jsrc):
            assert s.tip() == 1039 and s.first() == 1000
            assert s.range(1010, 1019)[0].count() == 10
        # identical pipeline output from either source
        out_p = transforms.build_outputs("rewards", *src.range(1000, 1039))["rewards"]
        out_j = transforms.build_outputs("rewards", *jsrc.range(1000, 1039))["rewards"]
        assert out_p.exceptAll(out_j).count() == 0
        assert out_p.count() == out_j.count()

    def test_rpc_source_matches_dataframe_path(self, spark):
        blocks, txns, blocks_by_h, txns_by_hash = _chain_as_dicts(spark)
        src = RpcBlockSource(spark, FakeRpcClient(blocks_by_h, txns_by_hash))
        assert src.tip() == 1039
        got = transforms.build_outputs("rewards", *src.range(1000, 1039))["rewards"]
        want = transforms.build_outputs("rewards", blocks, txns)["rewards"]
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0

    def test_rpc_range_fetches_each_block_and_txn_once(self, spark):
        _, _, blocks_by_h, txns_by_hash = _chain_as_dicts(spark)
        client = _CountingRpcClient(blocks_by_h, txns_by_hash)
        blocks, txns = RpcBlockSource(spark, client).range(1000, 1039)
        assert blocks.count() == 40
        assert txns.count() == len(txns_by_hash)
        assert client.calls["get_block_raw"] == 40
        assert client.calls["get_transaction"] == len(txns_by_hash)

    def test_rpc_catch_up_probes_the_tip_once(self, spark, tmp_path):
        # With a committed cursor, one catch_up asks the node for its
        # height once; blocks landing meanwhile wait for the next call.
        _, _, blocks_by_h, txns_by_hash = _chain_as_dicts(spark)
        client = _CountingRpcClient(blocks_by_h, txns_by_hash)
        out_dir = str(tmp_path / "out")
        CursorStore(out_dir).write(1019, 1000)
        cfg = FollowerConfig(mode="rewards", out_dir=out_dir, max_blocks_per_batch=8)
        assert IncrementalFollower(spark, RpcBlockSource(spark, client), cfg).catch_up() == 20
        assert CursorStore(out_dir).read() == (1039, 1000)
        assert client.calls["height"] == 1
        assert client.calls["get_block_raw"] == 20


def _serve_jsonrpc(blocks_by_h, txns_by_hash):
    """Minimal blockchain-node JSON-RPC stub on a loopback port."""
    import http.server
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            req = json.loads(self.rfile.read(n))
            method, params = req["method"], req.get("params") or {}
            try:
                if method == "block_height":
                    result = {"height": max(blocks_by_h)}
                elif method == "block_get":
                    result = blocks_by_h[params["height"]]
                elif method == "transaction_get":
                    result = txns_by_hash[params["hash"]]
                else:
                    raise KeyError(method)
                body = {"jsonrpc": "2.0", "id": req["id"], "result": result}
            except KeyError:
                body = {
                    "jsonrpc": "2.0",
                    "id": req["id"],
                    "error": {"code": -32602, "message": "not found"},
                }
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


class TestHttpRpc:
    def test_http_client_and_rpc_follow(self, spark, tmp_path):
        import pytest

        from helium_etl_lite_spark.sources.block_source import HttpRpcClient, RpcError

        blocks, txns, blocks_by_h, txns_by_hash = _chain_as_dicts(spark)
        srv = _serve_jsonrpc(blocks_by_h, txns_by_hash)
        try:
            client = HttpRpcClient(f"127.0.0.1:{srv.server_address[1]}")
            # the three reference calls, over real HTTP
            assert client.height() == 1039
            assert client.get_block_raw(1000)["height"] == 1000
            with pytest.raises(RpcError, match="not found"):
                client.get_block_raw(999_999)
            # E20 epoch walk against the live endpoint finds the oldest
            # block the node holds
            source = RpcBlockSource(spark, client)
            assert source.first() == 1000
            # full backfill+catch-up through the same follower pipeline:
            # one manifest swap per pass, cursor from the manifest
            from helium_etl_lite_spark.etl.snapshot import SnapshotStore, read_snapshot

            out_dir = str(tmp_path / "rpc_out")
            cfg = FollowerConfig(mode="rewards", backfill=True, out_dir=out_dir)
            assert IncrementalFollower(spark, source, cfg).catch_up() == 40
            m = SnapshotStore(out_dir).current()
            assert m["height"] == 1039 and m["first_block"] == 1000
            want = transforms.build_outputs("rewards", blocks, txns)["rewards"]
            got = read_snapshot(spark, out_dir, "rewards")
            assert got.count() == want.count()
            assert got.select(*want.columns).exceptAll(want).count() == 0
            assert IncrementalFollower(spark, source, cfg).catch_up() == 0  # at tip: no-op
        finally:
            srv.shutdown()

    def test_start_survives_rpc_failures(self, spark, tmp_path, caplog):
        # A flaky node must not kill the follow loop: the pass fails,
        # logs, and retries next tick (reference src/follower.rs:86-93).
        import logging

        from helium_etl_lite_spark import cli

        _, _, blocks_by_h, txns_by_hash = _chain_as_dicts(spark)
        srv = _serve_jsonrpc(blocks_by_h, {})  # every txn fetch will fail
        try:
            out_dir = str(tmp_path / "flaky_out")
            cfg_path = tmp_path / "settings.toml"
            cfg_path.write_text(
                f'node_addr = "127.0.0.1:{srv.server_address[1]}"\n'
                f'out_dir = "{out_dir}"\n'
                'mode = "rewards"\n'
                "backfill = true\n"
                "tick_seconds = 0.1\n"
            )
            cfg = cli.load_config(str(cfg_path))
            log = logging.getLogger("helium_etl_lite_spark_test_flaky")
            with caplog.at_level(logging.ERROR, logger=log.name):
                cli.cmd_start(spark, cfg, log=log, max_ticks=2)  # returns, no raise
            assert any("retrying next tick" in r.message for r in caplog.records)
        finally:
            srv.shutdown()

    def test_cli_once_over_node_addr(self, spark, tmp_path):
        from helium_etl_lite_spark import cli

        _, _, blocks_by_h, txns_by_hash = _chain_as_dicts(spark)
        srv = _serve_jsonrpc(blocks_by_h, txns_by_hash)
        try:
            out_dir = str(tmp_path / "cli_rpc_out")
            cfg_path = tmp_path / "settings.toml"
            cfg_path.write_text(
                f'node_addr = "127.0.0.1:{srv.server_address[1]}"\n'
                f'out_dir = "{out_dir}"\n'
                'mode = "rewards"\n'
                "backfill = true\n"
            )
            cfg = cli.load_config(str(cfg_path))
            assert cli.cmd_once(spark, cfg) == 40
            from helium_etl_lite_spark.etl.snapshot import read_snapshot

            assert read_snapshot(spark, out_dir, "rewards").count() > 0
        finally:
            srv.shutdown()


class TestStreamingWindows:
    def test_tumbling_window_stream_matches_batch(self, spark, tmp_path):
        import datetime as dt

        rows = [
            (i, dt.datetime(2024, 1, 1, 0, i % 3, 30), float(i)) for i in range(30)
        ]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
        feed = str(tmp_path / "wfeed")
        df.coalesce(2).write.mode("overwrite").json(feed)

        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .json(feed)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("win_agg")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "wckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # complete mode keeps every window's latest state; with no
        # late data the streaming result must equal the batch aggregate.
        got = {
            (r["w"]["start"], r["n"], r["total"])
            for r in spark.sql("SELECT * FROM win_agg").collect()
        }
        want = {
            (r["w"]["start"], r["n"], r["total"])
            for r in df.groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert got == want


class TestStreamStreamJoin:
    def test_interval_join_stream_matches_batch(self, spark, tmp_path):
        # The real watermarked stream-stream join must produce exactly
        # the batch twin's rows (stream_stream_interval_join query).
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        signups, purchases = [], []
        for u in range(6):
            signups.append((100 + u, base + dt.timedelta(minutes=u * 7), u))
            # one purchase inside the 10-min window, one outside
            purchases.append((200 + u, base + dt.timedelta(minutes=u * 7 + 5), u, 10.0 * u))
            purchases.append((300 + u, base + dt.timedelta(minutes=u * 7 + 25), u, 99.0))
        s_df = spark.createDataFrame(signups, "event_id long, ts timestamp, user_id long")
        p_df = spark.createDataFrame(
            purchases, "event_id long, ts timestamp, user_id long, value double"
        )
        s_feed, p_feed = str(tmp_path / "s_feed"), str(tmp_path / "p_feed")
        s_df.coalesce(2).write.mode("overwrite").json(s_feed)
        p_df.coalesce(2).write.mode("overwrite").json(p_feed)

        s = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .json(s_feed)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id"),
                F.col("event_id").alias("signup_id"),
                F.col("ts").alias("s_ts"),
            )
        )
        p = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double"
            )
            .json(p_feed)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("purchase_value"),
            )
        )
        joined = s.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("s_ts"))
            & (F.col("p_ts") < F.col("s_ts") + F.expr("INTERVAL 10 MINUTES")),
        ).select("user_id", "signup_id", "purchase_id", "purchase_value")
        q = (
            joined.writeStream.format("memory")
            .queryName("ss_join")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["user_id"], r["signup_id"], r["purchase_id"], r["purchase_value"])
            for r in spark.sql("SELECT * FROM ss_join").collect()
        }
        want = {(u, 100 + u, 200 + u, 10.0 * u) for u in range(6)}
        assert got == want  # in-window purchases only, each exactly once


class TestPythonDataSource:
    def test_batch_reader_round_trips_and_partitions_per_file(self, spark, tmp_path):
        import json

        from helium_etl_lite_spark.sources import python_datasource

        src = tmp_path / "blocks"
        src.mkdir()
        for i in range(3):
            with open(src / f"part-{i}.json", "w") as f:
                for h in range(i * 10, i * 10 + 10):
                    f.write(json.dumps({
                        "height": h, "block_hash": f"h{h}",
                        "block_date": "2024-01-01", "n_txns": h % 5,
                    }) + "\n")
        python_datasource.register(spark)
        df = spark.read.format("blocks_jsonl").option("path", str(src)).load()
        assert df.count() == 30
        assert df.rdd.getNumPartitions() == 3  # one InputPartition per file
        assert {r["height"] for r in df.collect()} == set(range(30))


def _commit(spark, root, df, heights, hi, range_size=1000):
    from helium_etl_lite_spark.etl.snapshot import commit_batch_atomic

    commit_batch_atomic(
        spark, root, {"rewards": df}, 0, hi, hi, 0, range_size=range_size,
        heights=heights,
    )


def _follow(spark, root, mdir, apply=None):
    from helium_etl_lite_spark.streaming import mirror

    return mirror.follow_changes(
        spark, root, "rewards", mdir, apply or mirror.apply_changes_batch
    )


class TestFollowChanges:
    """streaming/mirror.py follow_changes: a consumer store's manifest
    cursor holds the source snapshot version it has applied through, so
    each call applies exactly the net changes between two atomic
    commits (etl/snapshot.py read_changes) and the store is the
    consumer's only state — bootstrap, increment, restart and the empty
    feed are pinned here."""

    @staticmethod
    def _rows(df, cols=("block", "amount")):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    def test_bootstrap_then_increment_then_restart(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from helium_etl_lite_spark.etl.snapshot import SnapshotStore, read_changes

        root = str(tmp_path / "snap")
        mdir = str(tmp_path / "mirror")
        b1 = spark.range(0, 20).select(
            F.col("id").alias("block"), (F.col("id") * 1.0).alias("amount")
        )
        _commit(spark, root, b1, b1.select("block"), 19)

        # bootstrap: from version 0 the whole v1 table arrives as inserts
        boot = read_changes(spark, root, "rewards", 0, 1)
        assert boot.count() == 20
        assert boot.where(F.col("_change_type") != "insert").count() == 0

        # v2: replace block 3, drop block 4
        claimed = spark.createDataFrame([(3,), (4,)], "block long")
        b2 = spark.createDataFrame([(3, -3.0)], "block long, amount double")
        _commit(spark, root, b2, claimed, 19)

        # increment: ONLY the v1->v2 net feed
        feed = {
            (r["block"], r["amount"], r["_change_type"])
            for r in read_changes(spark, root, "rewards", 1, 2).collect()
        }
        assert feed == {
            (3, -3.0, "insert"), (3, 3.0, "delete"), (4, 4.0, "delete")
        }

        # the consumer catches up to v2, then an idle call (no new
        # commit) publishes nothing and leaves the cursor at v2
        assert _follow(spark, root, mdir) is True
        assert _batch_id(mdir) == 2
        version = SnapshotStore(mdir).current_version()
        assert _follow(spark, root, mdir) is False
        assert SnapshotStore(mdir).current_version() == version
        assert _batch_id(mdir) == 2

    def test_consumer_keeps_no_state_outside_its_store(self, spark, tmp_path):
        # The position is the store's cursor (the source version it
        # applied), so nothing outside the store can make a later call
        # skip a commit: v2 and v3 land while the consumer is down and
        # the next call applies both.
        from helium_etl_lite_spark.etl.snapshot import read_snapshot
        from helium_etl_lite_spark.streaming import mirror

        root = str(tmp_path / "snap")
        mdir = str(tmp_path / "mirror")
        b1 = spark.createDataFrame(
            [(b, float(b)) for b in range(10)], "block long, amount double"
        )
        _commit(spark, root, b1, b1.select("block"), 9)
        assert _follow(spark, root, mdir) is True
        assert _batch_id(mdir) == 1
        b2 = spark.createDataFrame([(5, -5.0)], "block long, amount double")
        _commit(spark, root, b2, b2.select("block"), 9)
        b3 = spark.createDataFrame([(11, 11.0)], "block long, amount double")
        _commit(spark, root, b3, b3.select("block"), 11)
        assert _follow(spark, root, mdir) is True
        got = self._rows(mirror.read_mirror(spark, mdir))
        assert got == self._rows(read_snapshot(spark, root, "rewards"))
        assert (11, 11.0) in got and (5, -5.0) in got
        assert _batch_id(mdir) == 3

    def test_source_with_other_block_ranges_is_mirrored(self, spark, tmp_path):
        # A follower store may use another block_range_size than the
        # mirror: the feed's rows must match the mirror's on their data,
        # or the multiset apply cannot delete a replaced row.
        from helium_etl_lite_spark.etl.snapshot import read_snapshot
        from helium_etl_lite_spark.streaming import mirror

        root = str(tmp_path / "snap")
        mdir = str(tmp_path / "mirror")
        b1 = spark.createDataFrame(
            [(b, float(b)) for b in range(10)], "block long, amount double"
        )
        _commit(spark, root, b1, b1.select("block"), 9, range_size=4)
        assert _follow(spark, root, mdir) is True
        b2 = spark.createDataFrame([(5, -5.0)], "block long, amount double")
        _commit(spark, root, b2, b2.select("block"), 9, range_size=4)
        assert _follow(spark, root, mdir) is True
        got = self._rows(mirror.read_mirror(spark, mdir))
        assert got == self._rows(read_snapshot(spark, root, "rewards"))
        assert (5, 5.0) not in got

    def test_late_subscriber_reads_fragments_of_either_nullability(
        self, spark, tmp_path
    ):
        # v1's columns are non-null (spark.range), v2's nullable
        # (createDataFrame), and v1 carries a timestamp column: a first
        # call spanning both fragments gets every row.
        import datetime as dt

        import pyspark.sql.functions as F

        from helium_etl_lite_spark.etl.snapshot import read_snapshot
        from helium_etl_lite_spark.streaming import mirror

        root = str(tmp_path / "snap")
        mdir = str(tmp_path / "mirror")
        b1 = spark.range(0, 10).select(
            F.col("id").alias("block"),
            (F.col("id") * 1.0).alias("amount"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
        )
        assert not any(f.nullable for f in b1.schema.fields)
        _commit(spark, root, b1, b1.select("block"), 9)
        b2 = spark.createDataFrame(
            [(10, 10.0, dt.datetime(2024, 1, 1)), (11, None, None)],
            "block long, amount double, ts timestamp",
        )
        _commit(spark, root, b2, b2.select("block"), 11)
        assert _follow(spark, root, mdir) is True
        cols = ("block", "amount", "ts")
        got = self._rows(mirror.read_mirror(spark, mdir), cols)
        assert got == self._rows(read_snapshot(spark, root, "rewards"), cols)
        assert [r[0] for r in got] == list(range(12))

    def test_cursor_moves_past_an_empty_feed(self, spark, tmp_path):
        # Compaction publishes a version whose feed is empty. The cursor
        # must still move to it: once vacuum drops the older manifests,
        # a cursor left behind would name a version that is gone.
        from helium_etl_lite_spark.etl.snapshot import (
            SnapshotStore,
            compact_snapshot,
            read_snapshot,
        )
        from helium_etl_lite_spark.streaming import mirror

        root = str(tmp_path / "snap")
        mdir = str(tmp_path / "mirror")
        for lo in (0, 5):  # two fragments in range 0, for compaction to merge
            b = spark.createDataFrame(
                [(x, float(x)) for x in range(lo, lo + 5)], "block long, amount double"
            )
            _commit(spark, root, b, b.select("block"), lo + 4)
        assert _follow(spark, root, mdir) is True
        assert compact_snapshot(spark, root) is not None
        assert _follow(spark, root, mdir) is True
        assert _batch_id(mdir) == SnapshotStore(root).current_version() == 3
        SnapshotStore(root).vacuum(keep_versions=1)
        b = spark.createDataFrame([(20, 20.0)], "block long, amount double")
        _commit(spark, root, b, b.select("block"), 20)
        assert _follow(spark, root, mdir) is True
        got = self._rows(mirror.read_mirror(spark, mdir))
        assert (20, 20.0) in got
        assert got == self._rows(read_snapshot(spark, root, "rewards"))
        assert _batch_id(mdir) == 4

    def test_store_ahead_of_its_source_is_refused(self, spark, tmp_path):
        from helium_etl_lite_spark.etl.pipeline import CursorStore

        root = str(tmp_path / "snap")
        mdir = str(tmp_path / "mirror")
        b = spark.createDataFrame([(1, 1.0)], "block long, amount double")
        _commit(spark, root, b, b.select("block"), 1)
        CursorStore(mdir).write(5, 0)
        with pytest.raises(ValueError, match="has applied source version 5"):
            _follow(spark, root, mdir)


def _feed(spark, rows, schema="block long, v double"):
    """A change-feed-shaped microbatch: `rows` plus their change type."""
    return spark.createDataFrame(rows, schema + ", _change_type string")


def _mirror_rows(spark, mdir):
    from helium_etl_lite_spark.streaming import mirror

    return {(r["block"], r["v"]) for r in mirror.read_mirror(spark, mdir).collect()}


def _mirror_parts(mdir, table="mirror"):
    from helium_etl_lite_spark.etl.snapshot import SnapshotStore

    return SnapshotStore(mdir).current()["tables"][table]


def _batch_id(store_dir):
    """A batch-id store's cursor: the last applied batch id (None before
    the first apply)."""
    from helium_etl_lite_spark.etl.snapshot import SnapshotStore

    m = SnapshotStore(store_dir).current()
    return None if m is None else m["height"]


class TestSnapshotMirrorConsumer:
    """r7 verdict missing #4: the following twin of
    sink_snapshot_changes_apply — a change-feed consumer keeps a
    downstream mirror equal to the source's CURRENT version across
    kills/restarts, without double-applying a replayed batch."""

    @staticmethod
    def _rows(df):
        return sorted((r["block"], r["amount"]) for r in df.collect())

    def test_mirror_tracks_source_across_restarts(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from helium_etl_lite_spark.etl.snapshot import read_snapshot
        from helium_etl_lite_spark.streaming import mirror

        root = str(tmp_path / "snap")
        mdir = str(tmp_path / "mirror")

        def drain():
            mirror.follow_changes(
                spark, root, "rewards", mdir, mirror.apply_changes_batch
            )

        # v1 -> the bootstrap call materializes the whole table
        b1 = spark.range(0, 25).select(
            F.col("id").alias("block"), (F.col("id") * 2.0).alias("amount")
        )
        _commit(spark, root, b1, b1.select("block"), 24)
        drain()
        assert self._rows(mirror.read_mirror(spark, mdir)) == self._rows(
            read_snapshot(spark, root, "rewards")
        )

        # kill (the consumer is not running), then two more commits
        # while it is down: replace block 7, drop block 8...
        claimed = spark.createDataFrame([(7,), (8,)], "block long")
        b2 = spark.createDataFrame([(7, -7.0)], "block long, amount double")
        _commit(spark, root, b2, claimed, 24)
        # ...and a fresh block 30 in a second commit
        b3 = spark.createDataFrame([(30, 60.0)], "block long, amount double")
        _commit(spark, root, b3, b3.select("block"), 30)

        # restart from the store's cursor: one call applies BOTH
        # pending deltas
        drain()
        got = self._rows(mirror.read_mirror(spark, mdir))
        want = self._rows(read_snapshot(spark, root, "rewards"))
        assert got == want
        assert (7, -7.0) in got and (30, 60.0) in got
        assert all(b != 8 for b, _ in got)

        # idle restart: nothing new, mirror untouched
        v_before = _batch_id(mdir)
        drain()
        assert _batch_id(mdir) == v_before
        assert self._rows(mirror.read_mirror(spark, mdir)) == want

    def test_replayed_batch_is_not_double_applied(self, spark, tmp_path):
        from helium_etl_lite_spark.streaming import mirror

        mdir = str(tmp_path / "mirror")
        batch = spark.createDataFrame(
            [(1, 10.0, "insert"), (2, 20.0, "insert")],
            "block long, amount double, _change_type string",
        )
        assert mirror.apply_changes_batch(batch, 0, mdir) is True
        # crash-replay of the SAME batch_id: foreachBatch redelivers
        # at-least-once; the manifest's cursor makes it exactly-once
        assert mirror.apply_changes_batch(batch, 0, mdir) is False
        assert self._rows(mirror.read_mirror(spark, mdir)) == [
            (1, 10.0), (2, 20.0)
        ]
        # a duplicate row deleted ONCE survives once (multiset apply)
        dup = spark.createDataFrame(
            [(1, 10.0, "insert"), (1, 10.0, "delete")],
            "block long, amount double, _change_type string",
        )
        assert mirror.apply_changes_batch(dup, 1, mdir) is True
        assert self._rows(mirror.read_mirror(spark, mdir)) == [
            (1, 10.0), (2, 20.0)
        ]


class TestStreamingCuration:
    """streaming/curation_stream.py: the curated store carries data AND
    dedup state in one atomic publish — replay and cross-batch dedup
    semantics pinned here; the oracle sweep pins the full fixed point
    (stream_incremental_curation hash-matches the batch loop's oracle)."""

    def _batch(self, spark, rows):
        # change-feed-shaped microbatch: (doc_id, lang, text, type).
        # Texts must pass the gopher gate: >=30 words, >=2 stopwords.
        return spark.createDataFrame(
            [(d, lg, t, ct) for d, lg, t, ct in rows],
            "doc_id long, lang string, text string, _change_type string",
        )

    def _passing_text(self, seed):
        words = [f"word{seed}x{i}" for i in range(28)]
        return "the and " + " ".join(words)

    def test_replay_skips_and_dedup_carries_across_batches(
        self, spark, tmp_path
    ):
        from helium_etl_lite_spark.etl.snapshot import read_snapshot
        from helium_etl_lite_spark.streaming import curation_stream as cs

        cdir = str(tmp_path / "curated")

        def curated():
            return sorted(
                r["doc_id"] for r in read_snapshot(spark, cdir, cs.CURATED).collect()
            )

        t_a, t_b = self._passing_text("a"), self._passing_text("b")
        b0 = self._batch(
            spark,
            [
                (1, "en", t_a, "insert"),
                (7, "en", t_a, "insert"),  # in-batch dup -> min-id keeps
                (2, "en", t_b, "insert"),
            ],
        )
        assert cs.curate_changes_batch(b0, 0, cdir) is True
        assert curated() == [1, 2]
        # replay of the same batch_id is a wholesale no-op
        assert cs.curate_changes_batch(b0, 0, cdir) is False
        # next batch: a cross-batch dup (t_a again) is dropped by the
        # store's own hash column; a fresh doc lands.
        b1 = self._batch(
            spark,
            [
                (9, "en", t_a, "insert"),
                (4, "en", self._passing_text("c"), "insert"),
            ],
        )
        assert cs.curate_changes_batch(b1, 1, cdir) is True
        assert curated() == [1, 2, 4]
        # a gate-failing doc never lands
        b2 = self._batch(spark, [(5, "en", "too short", "insert")])
        assert cs.curate_changes_batch(b2, 2, cdir) is False


def test_substring_stream_replay_is_noop_and_restart_resumes(spark, tmp_path):
    # kill/restart exactly-once for the following span-state loop:
    # (1) a bootstrap call after commit 1, (2) a restarted call applies
    # the commit-2 delta from the store's cursor, (3) a third call with
    # no new commit publishes nothing (replay no-op), and the final data
    # matches the batch-incremental semantics (state hit drops the
    # re-quoted passage).
    from helium_etl_lite_spark.etl.snapshot import commit_batch_atomic, read_snapshot
    from helium_etl_lite_spark.streaming.curation_stream import substring_changes_batch
    from helium_etl_lite_spark.streaming.mirror import follow_changes

    passage = " ".join(f"p{i}" for i in range(60))
    docs1 = spark.createDataFrame(
        [(0, passage + " " + " ".join(f"a{i}" for i in range(15)), 0)],
        "doc_id long, text string, block long",
    )
    quoted = " ".join(
        [f"x{i}" for i in range(3)] + passage.split() + ["tail0", "tail1"]
    )
    docs2 = docs1.unionByName(
        spark.createDataFrame(
            [(1, quoted, 1)], "doc_id long, text string, block long"
        )
    )
    root, out = str(tmp_path / "src"), str(tmp_path / "out")

    def drain():
        follow_changes(spark, root, "docs", out, substring_changes_batch)

    commit_batch_atomic(
        spark, root, {"docs": docs1}, lo=0, hi=1, height=1,
        first_block=0, heights=docs1.select("block"),
    )
    drain()
    v1 = _batch_id(out)
    assert v1 is not None

    commit_batch_atomic(
        spark, root, {"docs": docs2}, lo=0, hi=1, height=1,
        first_block=0, heights=docs2.select("block"),
    )
    drain()
    v2 = _batch_id(out)
    assert v2 > v1

    # no new commit: a third call must publish nothing
    drain()
    assert _batch_id(out) == v2

    rows = {r["doc_id"]: r for r in read_snapshot(spark, out, "data").collect()}
    assert rows[0]["n_tokens_kept"] == 75  # first copy intact
    assert rows[1]["n_tokens_kept"] <= 65 - 50  # quoted passage dropped


def test_keyed_apply_reconverges_after_image_drift(spark, tmp_path):
    # The keyed apply's reason to exist: the mirror's row image drifted
    # (hand-patch, lossy rewrite); the multiset apply strands the stale
    # image AND lands the replacement (key duplicated), the keyed apply
    # replaces BY KEY and reconverges.
    from helium_etl_lite_spark.streaming import mirror

    seed = _feed(spark, [(10, 1.0, "insert"), (11, 5.0, "insert")])
    feed = _feed(
        spark, [(10, 999.0, "delete"), (10, 2.0, "insert")]
    )  # delete image 999.0 does NOT match the drifted mirror's 1.0

    m1 = str(tmp_path / "multiset")
    assert mirror.apply_changes_batch(seed, 0, m1)
    assert mirror.apply_changes_batch(feed, 1, m1)
    assert _mirror_rows(spark, m1) == {(10, 1.0), (10, 2.0), (11, 5.0)}  # key 10 duplicated

    m2 = str(tmp_path / "keyed")
    assert mirror.apply_changes_batch(seed, 0, m2)
    assert mirror.apply_changes_batch_keyed(feed, 1, m2)
    keyed = _mirror_rows(spark, m2)
    assert keyed == {(10, 2.0), (11, 5.0)}  # reconverged

    # replay no-op + untouched-key survival
    assert not mirror.apply_changes_batch_keyed(feed, 1, m2)
    assert _mirror_rows(spark, m2) == keyed


def test_keyed_apply_accepts_keyed_feed_dialect(spark, tmp_path):
    # review find: the keyed apply must land update_postimage rows —
    # it is documented as the read_changes(key_cols=) counterpart, and
    # that feed tags in-place changes pre/postimage, not insert/delete.
    from helium_etl_lite_spark.streaming import mirror

    mdir = str(tmp_path / "m")
    seed = _feed(spark, [(10, 1.0, "insert"), (11, 5.0, "insert")])
    assert mirror.apply_changes_batch_keyed(seed, 0, mdir)
    keyed_feed = _feed(
        spark,
        [
            (10, 1.0, "update_preimage"),
            (10, 2.0, "update_postimage"),
            (11, 5.0, "delete"),
            (12, 9.0, "insert"),
        ],
    )
    assert mirror.apply_changes_batch_keyed(keyed_feed, 1, mdir)
    assert _mirror_rows(spark, mdir) == {(10, 2.0), (12, 9.0)}


def test_delta_commit_io_is_o_batch(spark, tmp_path):
    # r10 verdict item 2's DONE criterion: an ordinary (insert-only)
    # apply writes O(batch) bytes, not O(store) — a small batch landing
    # on a large mirror must produce a version dir a small fraction of
    # the first one's size, and constant-size batches must produce
    # constant-size version dirs regardless of store growth.
    import os

    from pyspark.sql import functions as F

    from helium_etl_lite_spark.etl.snapshot import SnapshotStore
    from helium_etl_lite_spark.streaming import mirror

    def version_bytes(mdir):
        p = os.path.join(mdir, "mirror", f"v={SnapshotStore(mdir).current_version()}")
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p)
            for f in fs
        )

    mdir = str(tmp_path / "m")
    big = spark.range(20000).select(
        F.col("id").alias("block"),
        (F.col("id") * 2).cast("double").alias("v"),
        F.lit("insert").alias("_change_type"),
    )
    assert mirror.apply_changes_batch(big, 1, mdir)
    base_bytes = version_bytes(mdir)
    delta_bytes = []
    for bid in (2, 3, 4):
        small = spark.range(10).select(
            (F.col("id") + 100000 * bid).alias("block"),
            F.col("id").cast("double").alias("v"),
            F.lit("insert").alias("_change_type"),
        )
        assert mirror.apply_changes_batch(small, bid, mdir)
        delta_bytes.append(version_bytes(mdir))
    # each apply's version dir is a small fraction of the first and
    # does not grow as the store accumulates
    assert all(b < base_bytes / 5 for b in delta_bytes), (
        base_bytes, delta_bytes,
    )
    assert max(delta_bytes) < 2 * min(delta_bytes), delta_bytes
    # and the read still sees everything
    assert mirror.read_mirror(spark, mdir).count() == 20000 + 30


@pytest.mark.parametrize("apply", ["apply_changes_batch", "apply_changes_batch_keyed"])
def test_delete_in_one_range_leaves_other_ranges_fragments(spark, tmp_path, apply):
    # A delete-bearing batch rewrites only the block range it touches:
    # every other range keeps its fragments in the manifest as they were.
    from helium_etl_lite_spark.streaming import mirror

    apply = getattr(mirror, apply)
    mdir = str(tmp_path / "m")
    seed = [(b, float(b), "insert") for b in (0, 1, 1000, 1001, 2000, 2001)]
    assert apply(_feed(spark, seed), 0, mdir)
    # a second fragment in every range
    more = [(b, float(b), "insert") for b in (500, 1500, 2500)]
    assert apply(_feed(spark, more), 1, mdir)
    before = _mirror_parts(mdir)
    assert all(len(before[r]) == 2 for r in ("0", "1", "2")), before
    assert apply(
        _feed(spark, [(1001, 1001.0, "delete"), (1002, 1002.0, "insert")]), 2, mdir
    )
    after = _mirror_parts(mdir)
    assert after["0"] == before["0"] and after["2"] == before["2"]
    assert after["1"] != before["1"]
    assert _mirror_rows(spark, mdir) == {
        (b, float(b)) for b in (0, 1, 500, 1000, 1002, 1500, 2000, 2001, 2500)
    }


def _fold_dedup_state(batch_df, batch_id, state_dir):
    """The exact-dedup state as a change-feed consumer: a batch's
    inserted rows fold in as documents (`v` as the text). A set state
    applies no deletes."""
    from pyspark.sql import functions as F

    from helium_etl_lite_spark.operators import dedup

    spark = batch_df.sparkSession
    docs = batch_df.where(F.col("_change_type") == "insert").select(
        F.col("block").alias("doc_id"), F.col("v").cast("string").alias("text")
    )
    dedup.dedup_state_add(
        spark, dedup.dedup_filter_new(spark, docs, state_dir), state_dir, batch_id
    )
    return True


@pytest.mark.parametrize(
    "apply", ["apply_changes_batch", "apply_changes_batch_keyed", "dedup_state_add"]
)
def test_applies_past_the_cap_compact_and_read_every_row(spark, tmp_path, apply):
    # 2K + 1 applies append one fragment each to block range 0 (a
    # mirror's rows carry their blocks; an operator state's carry the
    # batch id), while every other apply also deletes a row of range 1
    # (a delete-bearing apply; the set state applies no deletes). Each
    # commit folds range 0's newest same-tier fragments: the range stays
    # inside the fold's bound, the fold runs, the read sees every row
    # the feed leaves, and vacuum keeps only the version dirs the two
    # newest manifests name, plus a dir newer than CURRENT (an in-flight
    # writer's).
    import hashlib
    import os

    from helium_etl_lite_spark.etl.snapshot import (
        STATE,
        K,
        SnapshotStore,
        read_snapshot,
    )
    from helium_etl_lite_spark.streaming import mirror
    from tests.test_fold import _assert_tiered

    is_state = apply == "dedup_state_add"
    apply = _fold_dedup_state if is_state else getattr(mirror, apply)
    table = STATE if is_state else mirror.TABLE
    mdir = str(tmp_path / "m")
    n_applies = 2 * K + 1
    want = {(b, float(b)) for b in range(1000, 1020)}
    inserted = set(want)
    assert apply(_feed(spark, [(b, v, "insert") for b, v in sorted(want)]), 0, mdir)
    in_flight = os.path.join(mdir, table, "v=99")
    os.makedirs(in_flight)
    folds = 0
    for bid in range(1, n_applies + 1):
        rows = [(bid * 10, float(bid), "insert")]
        want.add((bid * 10, float(bid)))
        inserted.add((bid * 10, float(bid)))
        if bid % 2 == 0:
            rows.append((1000 + bid, float(1000 + bid), "delete"))
            want.discard((1000 + bid, float(1000 + bid)))
        assert apply(_feed(spark, rows), bid, mdir)
        frags = _mirror_parts(mdir, table)["0"]
        _assert_tiered(frags)
        # each apply adds one block to range 0: a fragment spanning
        # several was folded
        folds += frags[-1][1] < frags[-1][2]
    assert folds
    assert _batch_id(mdir) == n_applies
    if is_state:
        hashes = {
            r["text_hash"] for r in read_snapshot(spark, mdir, STATE).collect()
        }
        assert read_snapshot(spark, mdir, STATE).count() == len(inserted)
        assert hashes == {
            hashlib.sha256(str(v).encode()).hexdigest() for _, v in inserted
        }
    else:
        assert _mirror_rows(spark, mdir) == want
    store = SnapshotStore(mdir)
    cur = store.current_version()
    named = {
        f"v={f[0]}"
        for v in (cur - 1, cur)
        for frags in store.manifest(v)["tables"][table].values()
        for f in frags
    }
    assert set(os.listdir(os.path.join(mdir, table))) == named | {"v=99"}


def test_cli_status_reports_the_last_batch_id(spark, tmp_path):
    from helium_etl_lite_spark import cli
    from helium_etl_lite_spark.streaming import mirror

    mdir = str(tmp_path / "m")
    assert mirror.apply_changes_batch(_feed(spark, [(1, 1.0, "insert")]), 0, mdir)
    assert mirror.apply_changes_batch(_feed(spark, [(2, 2.0, "insert")]), 3, mdir)
    status = cli.cmd_status({"out_dir": mdir})
    assert status["height"] == 3
    assert status["tables"]["mirror"]["n_fragments"] == 2


def test_keyed_and_multiset_apply_agree_on_consistent_feeds(spark, tmp_path):
    # when the mirror's images are consistent with the feed (the normal
    # case), the keyed and multiset applies must produce the same
    # mirror — randomized over keyed insert/delete/update batches.
    import random

    from helium_etl_lite_spark.streaming import mirror

    rng = random.Random(910)
    state = {k: float(k) for k in range(20)}
    seed = _feed(spark, [(k, v, "insert") for k, v in state.items()])
    m1, m2 = str(tmp_path / "multiset"), str(tmp_path / "keyed")
    assert mirror.apply_changes_batch(seed, 0, m1)
    assert mirror.apply_changes_batch_keyed(seed, 0, m2)
    for bid in (1, 2, 3):
        feed_rows = []
        keys = rng.sample(sorted(state), 6)
        for k in keys[:2]:  # updates
            feed_rows.append((k, state[k], "delete"))
            state[k] = state[k] + 100.0
            feed_rows.append((k, state[k], "insert"))
        for k in keys[2:4]:  # deletes
            feed_rows.append((k, state.pop(k), "delete"))
        for i, k in enumerate(keys[4:6]):  # fresh inserts
            nk = 100 * bid + i
            state[nk] = float(nk)
            feed_rows.append((nk, state[nk], "insert"))
        feed = _feed(spark, feed_rows)
        assert mirror.apply_changes_batch(feed, bid, m1)
        assert mirror.apply_changes_batch_keyed(feed, bid, m2)
    want = set(state.items())
    assert _mirror_rows(spark, m1) == want
    assert _mirror_rows(spark, m2) == want
