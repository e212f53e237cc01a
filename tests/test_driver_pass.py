"""The follower's pass (etl/pipeline.py): it reads the landed files with
pyarrow, runs etl/arrow_transforms.py and commits through
etl/snapshot.py commit_arrow, with no Spark job. It must store what the
Spark reference (build_outputs over Spark's read of the same files,
committed by commit_batch_atomic) stores: the same rows, audit and
manifest spans, and fail with the same errors (fast lane)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from helium_etl_lite_spark import serving
from helium_etl_lite_spark.etl import fixtures, snapshot
from helium_etl_lite_spark.etl.pipeline import CursorStore, FollowerConfig, IncrementalFollower
from helium_etl_lite_spark.etl.schemas import BLOCK_ARROW, BLOCK_SCHEMA, SENTINEL, TXN_ARROW, TXN_SCHEMA
from helium_etl_lite_spark.etl.snapshot import SnapshotStore, commit_batch_atomic
from helium_etl_lite_spark.etl.transforms import build_outputs
from helium_etl_lite_spark.sources.block_source import (
    FakeRpcClient,
    LandedBlockSource,
    RpcBlockSource,
)

MODES = ("rewards", "full", "filters")


def _block(h, refs):
    return {"height": h, "time": 1_600_000_000 + h, "hash": f"bh-{h}",
            "transactions": [{"type": t, "hash": x} for t, x in refs]}


def _land(root, blocks, txns, as_json=False, name="part-0"):
    """Write block and txn rows as one landed file each; return the source."""
    for sub, rows, schema in (("blocks", blocks, BLOCK_ARROW), ("txns", txns, TXN_ARROW)):
        d = os.path.join(str(root), sub)
        os.makedirs(d, exist_ok=True)
        if as_json:
            with open(os.path.join(d, name + ".json"), "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
        else:
            pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(d, name + ".parquet"))
    return LandedBlockSource(os.path.join(str(root), "blocks"), os.path.join(str(root), "txns"), as_json)


def _txn(h, t, fields):
    return {"hash": h, "type": t, "fields": fields if isinstance(fields, str) else json.dumps(fields)}


def _stored(out):
    """Every stored table's rows (with the range from the fragment path),
    read with pyarrow, and the manifest's spans without byte sizes."""
    m = SnapshotStore(out).current()
    rows = {}
    for table in m["tables"]:
        got = []
        for f in serving._fragment_files(out, m, table):
            r = int(f.split("/block_range=")[1].split("/")[0])
            got += [(r, *row.values()) for row in pq.read_table(f).to_pylist()]
        rows[table] = sorted(got, key=repr)
    spans = {t: {r: [f[:3] for f in fs] for r, fs in p.items()} for t, p in m["tables"].items()}
    return rows, spans, (m["height"], m["first_block"])


def _follow(source, out, mode, passes, filters=None, **cfg):
    """Commit each (lo, hi) of `passes` through the follower; return the
    audit of each pass."""
    f = IncrementalFollower(
        source, FollowerConfig(mode=mode, out_dir=out, backfill=True, **cfg), filters=filters,
    )
    first = f.init_cursor()[1]
    audits = []
    for lo, hi in passes:
        f._commit_range(lo, hi, first)
        audits.append(f.last_audit)
    return audits


def _reference(spark, root, out, mode, passes, as_json=False, filters=None, block_range_size=1000):
    """The Spark reference of _follow over the files landed under `root`:
    each pass is build_outputs over Spark's read of them, committed by
    commit_batch_atomic; return the audit of each pass."""
    def read(schema, sub):
        reader = spark.read.schema(schema)
        path = os.path.join(str(root), sub)
        return reader.json(path) if as_json else reader.parquet(path)

    first = CursorStore(out).read()[1]
    filters = None if filters is None else spark.createDataFrame(filters)
    audits = []
    for lo, hi in passes:
        blocks = read(BLOCK_SCHEMA, "blocks").where(F.col("height").between(lo, hi))
        tables = build_outputs(mode, blocks, read(TXN_SCHEMA, "txns"), filters)
        commit_batch_atomic(spark, out, tables, lo, hi, height=hi, first_block=first,
                            range_size=block_range_size)
        audits.append(tables["rewards"].agg(
            F.count(F.lit(1)).alias("n_rewards"),
            F.coalesce(F.sum("amount"), F.lit(0)).alias("amount_total"),
            F.coalesce(F.sum(F.when(F.col("account") == SENTINEL, 1).otherwise(0)), F.lit(0))
            .alias("sentinel_accounts"),
        ).first().asDict())
    return audits


def _both(spark, tmp_path, source, mode, passes, as_json=False, **kw):
    """{"driver": ..., "spark": ...}: (audits, rows, spans, cursor) of the
    follower and of the reference, each from the same seeded cursor."""
    got = {}
    for path, run in (("driver", lambda out: _follow(source, out, mode, passes, **kw)),
                      ("spark", lambda out: _reference(spark, tmp_path, out, mode, passes,
                                                       as_json=as_json, **kw))):
        out = str(tmp_path / f"out-{path}-{mode}")
        CursorStore(out).write(passes[0][0] - 1, passes[0][0])
        got[path] = (run(out), *_stored(out))
    return got


@pytest.fixture(scope="module")
def chain(spark):
    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=60)
    return blocks.toArrow().to_pylist(), txns.toArrow().to_pylist(), fixtures.make_filters(spark).toArrow()


# ------------------------------------------------------------- sources


def test_tip_and_first_skip_hidden_files(tmp_path):
    # Spark's reader skips `_`- and `.`-prefixed files; so does the
    # footer probe, or a slice still landing under a hidden name (or a
    # checksum file) would move the tip.
    src = _land(tmp_path, [_block(h, []) for h in range(10, 20)], [])
    for name in ("._hidden.parquet.crc", ".part-1.parquet.tmp", "_SUCCESS", "_tmp.parquet"):
        pq.write_table(pa.Table.from_pylist([_block(99, [])], schema=BLOCK_ARROW),
                       tmp_path / "blocks" / name)
    src = LandedBlockSource(str(tmp_path / "blocks"), str(tmp_path / "txns"), False)
    assert (src.tip(), src.first()) == (19, 10)
    assert src.range(0, 100)[0]["height"].to_pylist() == list(range(10, 20))


def test_tip_reads_the_column_where_a_row_group_has_no_statistics(tmp_path):
    (tmp_path / "blocks").mkdir()
    (tmp_path / "txns").mkdir()
    rows = pa.Table.from_pylist([_block(h, []) for h in (7, 3, 12, 5)], schema=BLOCK_ARROW)
    pq.write_table(rows, tmp_path / "blocks" / "a.parquet", write_statistics=False, row_group_size=2)
    pq.write_table(pa.Table.from_pylist([_block(9, [])], schema=BLOCK_ARROW),
                   tmp_path / "blocks" / "b.parquet")
    src = LandedBlockSource(str(tmp_path / "blocks"), str(tmp_path / "txns"), False)
    assert pq.read_metadata(tmp_path / "blocks" / "a.parquet").row_group(0).column(0).statistics is None
    assert (src.tip(), src.first()) == (12, 3)
    assert sorted(src.range(4, 12)[0]["height"].to_pylist()) == [5, 7, 9, 12]


def test_json_lines_source(tmp_path):
    refs = [("payment_v2", "p-1"), ("rewards_v2", "r-1")]
    src = _land(tmp_path, [_block(1, refs), _block(2, [])],
                [_txn("p-1", "payment_v2", {}), _txn("r-1", "rewards_v2", {"rewards": []}),
                 _txn("p-9", "payment_v2", {})], as_json=True)
    assert (src.tip(), src.first()) == (2, 1)
    blocks, txns = src.range(1, 1)
    assert blocks["height"].to_pylist() == [1]
    assert sorted(txns["hash"].to_pylist()) == ["p-1", "r-1"]


def test_an_empty_landed_source_has_no_tip(tmp_path):
    (tmp_path / "blocks").mkdir()
    (tmp_path / "txns").mkdir()
    src = LandedBlockSource(str(tmp_path / "blocks"), str(tmp_path / "txns"), False)
    assert (src.tip(), src.first()) == (None, None)
    with pytest.raises(FileNotFoundError):
        LandedBlockSource(str(tmp_path / "missing"), str(tmp_path / "txns"), False)


def test_a_failed_rpc_fetch_fails_the_pass_before_any_commit(tmp_path):
    blocks = {h: _block(h, [("payment_v2", f"p-{h}")]) for h in range(1, 6)}
    txns = {f"p-{h}": {"amount": h} for h in range(1, 6) if h != 4}
    out = str(tmp_path / "out")
    f = IncrementalFollower(RpcBlockSource(FakeRpcClient(blocks, txns)),
                            FollowerConfig(mode="full", out_dir=out))
    SnapshotStore(out).publish({"version": 1, "height": 1, "first_block": 1, "tables": {}})
    with pytest.raises(KeyError, match="p-4"):
        f.catch_up()
    assert SnapshotStore(out).current() == {"version": 1, "height": 1, "first_block": 1, "tables": {}}
    assert not os.path.exists(os.path.join(out, "transactions"))


# ------------------------------------------- the pass vs the Spark reference


@pytest.mark.parametrize("as_json", [False, True], ids=["parquet", "json"])
@pytest.mark.parametrize("mode", MODES)
def test_fixture_chain_matches_the_spark_reference(spark, tmp_path, chain, mode, as_json):
    # 15-block passes into 40-block ranges: every range takes at most
    # two fragments, so no fold decision (which reads each writer's own
    # byte sizes) can tell the writers apart.
    blocks, txns, filters = chain
    source = _land(tmp_path, blocks, txns, as_json)
    got = _both(spark, tmp_path, source, mode, [(lo, lo + 14) for lo in range(1000, 1060, 15)],
                as_json=as_json, filters=filters if mode == "filters" else None,
                block_range_size=40)
    assert got["driver"] == got["spark"]
    audit, rows, spans, cursor = got["driver"]
    assert rows["rewards"] and cursor == (1059, 1000)
    assert ("transactions" in rows) == (mode == "full")


EDGE_TXNS = [
    _txn("r-nulls", "rewards_v2", {"rewards": [
        {"account": None, "gateway": "g1", "amount": 5, "type": "poc"},
        {"account": "a1", "gateway": None, "amount": 6, "type": "poc"},
        {"amount": 7}, None, {},
    ]}),
    _txn("r-missing", "rewards_v2", {"start_epoch": 1}),
    _txn("r-null", "rewards_v2", {"rewards": None}),
    _txn("r-amounts", "rewards_v2", '{"rewards":[{"account":"a1","amount":1.5},'
         '{"account":"a1","amount":"12"},{"account":"a1","amount":9223372036854775808},'
         '{"account":"a1","amount":-9223372036854775808},{"account":"a1","amount":1e3},'
         '{"account":"a1","amount":true},{"account":"a1","amount":{"x":1}}]}'),
    _txn("r-values", "rewards_v2", '{"rewards":[{"account":123,"gateway":{"x":[1,2.50,"é",null]},'
         '"type":1.5e10,"amount":1},{"account":true,"gateway":[ ],"type":0.001,"amount":2},'
         '{"account":1e-5,"gateway":123456789.5,"type":-0.0,"amount":3}]} trailing'),
    _txn("r-malformed", "rewards_v2", '{"rewards":[{"account":"a"'),
    _txn("r-notjson", "rewards_v2", "not json"),
    _txn("r-elem", "rewards_v2", {"rewards": [5, {"account": "a2", "amount": 1}]}),
    _txn("r-dup", "rewards_v2", {"rewards": [{"account": "a3", "gateway": "g3", "amount": 1}]}),
    _txn("r-dup", "rewards_v2", {"rewards": [{"account": "a4", "gateway": "g4", "amount": 2}]}),
    _txn("p-dup", "payment_v2", {"amount": 2}),
    _txn("p-dup", "payment_v2", {"amount": 1}),
    _txn("p-twice", "payment_v2", {"amount": 3}),
    *(_txn(f"p-{h}", "payment_v2", {"amount": h}) for h in (2008, 2009)),
]
EDGE_BLOCKS = [
    _block(2000, [("rewards_v2", "r-nulls"), ("rewards_v2", "r-missing")]),
    _block(2001, [("rewards_v2", "r-null"), ("rewards_v2", "r-amounts")]),
    _block(2002, [("rewards_v2", "r-values"), ("rewards_v2", "r-malformed")]),
    _block(2003, [("rewards_v2", "r-notjson"), ("rewards_v2", "r-elem")]),
    _block(2004, [("rewards_v2", "r-dup"), ("payment_v2", "p-dup")]),
    _block(2005, [("payment_v2", "p-twice")]),
    _block(2006, []),
    _block(2007, [("payment_v2", "p-twice")]),
    _block(2008, [("payment_v2", "p-2008")]),
    _block(2009, [("payment_v2", "p-2009")]),
]


@pytest.mark.parametrize("mode", MODES)
def test_edge_payloads_match_the_spark_reference(spark, tmp_path, mode):
    source = _land(tmp_path, EDGE_BLOCKS, EDGE_TXNS)
    filters = pa.table({"type": ["account", "gateway", "account"], "value": ["a1", "g1", None]})
    got = _both(spark, tmp_path, source, mode, [(2000, 2007), (2008, 2009)],
                filters=filters if mode == "filters" else None)
    assert got["driver"] == got["spark"]
    audits, rows = got["driver"][:2]
    # the second pass has no reward rows: an explicit zero audit
    assert audits[1] == {"n_rewards": 0, "amount_total": 0, "sentinel_accounts": 0}
    if mode == "rewards":
        accounts = {r[4] for r in rows["rewards"]}
        assert {"123", "true", "1.0E-5"} <= accounts
        assert {r[7] for r in rows["rewards"] if r[4] == "123"} == {"1.5E10"}
    if mode == "full":
        # one row per hash: the lowest block, then type, then fields
        by_hash = {r[2]: r for r in rows["transactions"]}
        assert len(by_hash) == len(rows["transactions"])
        assert by_hash["p-twice"][1] == 2005
        assert by_hash["p-dup"][4] == '{"amount": 1}'


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize(
    "blocks, txns, error",
    [
        ([_block(1, [("not_a_real_type_v9", "x-1")])], [_txn("x-1", "not_a_real_type_v9", {})],
         "unknown transaction type: not_a_real_type_v9"),
        ([_block(1, [("rewards_v2", "r-1")])], [], "missing rewards_v2 payload for txn r-1"),
        ([_block(1, [("rewards_v2", "r-1")])], [_txn("r-1", "rewards_v2", " ")],
         "missing rewards_v2 payload for txn r-1"),
        ([_block(1, [("payment_v2", "p-1")])], [], "missing payload for txn p-1"),
    ],
    ids=["unknown-type", "no-payload", "blank-payload", "no-payment-payload"],
)
def test_errors_match_the_spark_reference(spark, tmp_path, mode, blocks, txns, error):
    source = _land(tmp_path, blocks, txns)
    filters = pa.table({"type": ["account"], "value": ["a1"]}) if mode == "filters" else None
    # a missing non-reward payload fails only the full mode, which stores it
    fails = mode == "full" or "missing payload" not in error
    for path in ("driver", "spark"):
        out = str(tmp_path / f"out-{path}")
        CursorStore(out).write(0, 1)
        if path == "driver":
            run = lambda: _follow(source, out, mode, [(1, 1)], filters=filters)  # noqa: E731
        else:
            run = lambda: _reference(spark, tmp_path, out, mode, [(1, 1)], filters=filters)  # noqa: E731
        if fails:
            with pytest.raises(Exception, match=error):
                run()
            assert SnapshotStore(out).current()["version"] == 1
        else:
            run()
            assert SnapshotStore(out).current()["height"] == 1


# ------------------------------------------------------------ the writers


def test_transactions_fragments_cluster_by_type(tmp_path):
    source = _land(tmp_path, EDGE_BLOCKS[4:], EDGE_TXNS)
    out = str(tmp_path / "out")
    _follow(source, out, "full", [(2004, 2009)])
    m = SnapshotStore(out).current()
    (f,) = serving._fragment_files(out, m, "transactions")
    meta = pq.read_metadata(f)
    types = []
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(2).statistics
        assert st.min == st.max
        types.append(st.min)
    assert types == sorted(set(types)) == ["payment_v2", "rewards_v2"]
    t = pq.read_table(f)
    assert t.to_pylist() == t.sort_by([("type", "ascending"), ("block", "ascending"),
                                       ("hash", "ascending")]).to_pylist()
    # the footer carries the Spark schema, as a Spark-written one does
    assert snapshot._SPARK_SCHEMA_KEY in meta.metadata


def test_a_crash_between_write_and_publish_leaves_the_snapshot_whole(tmp_path, monkeypatch):
    blocks = [_block(h, [("payment_v2", f"p-{h}")]) for h in range(1, 21)]
    txns = [_txn(f"p-{h}", "payment_v2", {"amount": h}) for h in range(1, 21)]
    source = _land(tmp_path, blocks, txns)
    out = str(tmp_path / "out")
    _follow(source, out, "full", [(1, 10)])
    before = _stored(out)

    def crash(self, manifest):
        raise OSError("crash before the CURRENT swap")

    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "publish", crash)
        with pytest.raises(OSError, match="crash"):
            _follow(source, out, "full", [(11, 20)])
    # the attempt's fragment is on disk, unpublished
    orphan = os.path.join(out, "transactions", "v=3", "block_range=0")
    assert os.listdir(orphan)
    assert _stored(out) == before
    # a leftover file of a crashed attempt must not be read as rows
    pq.write_table(pq.read_table(os.path.join(orphan, os.listdir(orphan)[0])),
                   os.path.join(orphan, "part-stray.parquet"))
    _follow(source, out, "full", [(11, 20)])
    rows = _stored(out)[0]
    assert [r[2] for r in rows["transactions"]] == sorted(f"p-{h}" for h in range(1, 21))
    assert os.listdir(orphan) == ["part-00000.parquet"]


def test_a_compacted_transactions_fragment_keeps_the_order(spark, tmp_path):
    # The Spark writer (compaction, batch-id stores) sorts a transactions
    # fragment as the Arrow writer does; two passes' fragments
    # concatenated would not be sorted by type.
    source = _land(tmp_path, EDGE_BLOCKS[4:], EDGE_TXNS)
    out = str(tmp_path / "out")
    _follow(source, out, "full", [(2004, 2006), (2007, 2009)])
    m = snapshot.compact_snapshot(spark, out)
    assert [f[1:3] for f in m["tables"]["transactions"]["2"]] == [[2004, 2009]]
    order = [(c, "ascending") for c in snapshot.TRANSACTIONS_ORDER]
    for f in serving._fragment_files(out, m, "transactions"):
        t = pq.read_table(f)
        assert t.num_rows and t.to_pylist() == t.sort_by(order).to_pylist()


def test_a_json_pass_keeps_only_the_rows_of_its_hashes(tmp_path):
    # A JSON-lines file has no statistics to skip it by: the pass parses
    # every transaction file, but holds no parsed file after the call.
    blocks = [_block(h, [("payment_v2", f"p-{h}")]) for h in range(1, 2001)]
    txns = [_txn(f"p-{h}", "payment_v2", {"memo": "x" * 1000}) for h in range(1, 2001)]
    source = _land(tmp_path, blocks, txns, as_json=True)
    assert source.tip() == 2000
    base = pa.total_allocated_bytes()
    got_blocks, got_txns = source.range(5, 6)
    assert got_blocks["height"].to_pylist() == [5, 6]
    assert got_txns["hash"].to_pylist() == ["p-5", "p-6"]
    # the landed payloads are about 2 MB
    assert pa.total_allocated_bytes() - base < 100_000


def test_cli_once_starts_no_spark_session_and_no_job(spark, tmp_path, monkeypatch):
    # `cli once` opens no session, and its passes run no job on the
    # session the process already has.
    from helium_etl_lite_spark import cli

    def no_session(*args, **kwargs):
        raise AssertionError("once started a SparkSession")

    monkeypatch.setattr(cli, "get_spark", no_session)
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(), default=-1)

    spark.range(1).count()
    before = last_job()
    _land(tmp_path, EDGE_BLOCKS, EDGE_TXNS)
    out = str(tmp_path / "out")
    cfg = tmp_path / "s.toml"
    cfg.write_text(f'blocks_path = "{tmp_path / "blocks"}"\ntxns_path = "{tmp_path / "txns"}"\n'
                   f'out_dir = "{out}"\nmode = "full"\nbackfill = true\n')
    assert cli.main(["once", "--config", str(cfg)]) == 0
    assert SnapshotStore(out).current()["height"] == 2009
    assert last_job() == before
