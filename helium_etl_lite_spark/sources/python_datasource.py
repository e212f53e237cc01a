"""Spark 4 Python DataSource implementing the reference's block-feed
shape as a first-class `spark.read.format(...)` source.

The reference ingests blocks by driver-side JSON-RPC point fetches
(src/block_processor.rs:29,58 — one request per block, inherently
serial). `sources/block_source.py` already mirrors that contract; this
module is the DISTRIBUTED evolution: the Python DataSource API
(pyspark.sql.datasource, Spark 4) lets the fetch itself run on
executors, one InputPartition per block file/height range, so ingest
parallelism scales with the cluster instead of the driver's socket.

Batch reader here reads block JSON-lines files (one partition per
file — at scale, one per height range); the same class structure
accepts an RPC-backed `read()` body, which is exactly how a live
blockchain-node follower would fan point fetches across executors.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..etl.snapshot import SnapshotStore, fragment_dir, fragments, require_fragments

BLOCK_SCHEMA = "height long, block_hash string, block_date string, n_txns long"


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class BlocksJsonlReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("blocks_jsonl requires option 'path'")

    def partitions(self):
        # One partition per data file: the planner ships each to an
        # executor; with height-range naming this is where partition
        # pruning on a pushed height predicate would slot in.
        import glob
        import os

        files = sorted(glob.glob(os.path.join(self._path, "*.json")))
        return [_FilePartition(f) for f in files]

    def read(self, partition):
        # Runs ON THE EXECUTOR — this body could equally issue the
        # reference's JSON-RPC point fetches for a height range.
        import json

        with open(partition.path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                d = json.loads(line)
                yield (d["height"], d["block_hash"], d["block_date"], d["n_txns"])


class BlocksJsonlDataSource(DataSource):
    @classmethod
    def name(cls):
        return "blocks_jsonl"

    def schema(self):
        return BLOCK_SCHEMA

    def reader(self, schema):
        return BlocksJsonlReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(BlocksJsonlDataSource)


# ---------------------------------------------------------------------------
# Streaming CDC over the snapshot sink: subscribe to a follower table's
# change feed (the Delta readChangeFeed-as-stream pattern). The OFFSET
# IS THE SNAPSHOT VERSION — the natural exactly-once cursor, because
# versions are atomic commits: a microbatch covers exactly the net
# changes between two manifests, replay between the same offsets is
# deterministic, and nothing can be half-consumed.
# ---------------------------------------------------------------------------


def _changes_rows(root: str, table: str, v_from: int, v_to: int, columns):
    """Net row-level changes between two manifests, computed WITHOUT a
    SparkSession (this runs inside the data source): the manifests'
    fragment sets give the removed and added fragments, pyarrow reads
    only those dirs, and — only when both sides hold rows — a pandas
    multiset diff (count by full row) yields insert/delete rows with
    multiplicity; a one-sided change (an append) is its rows as they
    are. Mirrors etl/snapshot.py read_changes exactly."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = SnapshotStore(root)
    # version 0 is the empty store before the first commit
    m_from = store.manifest(v_from) if v_from > 0 else {"tables": {}}
    m_to = store.manifest(v_to)
    if m_from is None or m_to is None:
        missing = v_from if m_from is None else v_to
        raise ValueError(
            f"snapshot_changes: manifest {missing} missing at {root} "
            "(vacuumed or never committed)"
        )
    require_fragments(m_from, root)
    require_fragments(m_to, root)
    frags_from = {(r, tuple(f)) for r, f in fragments(m_from, table)}
    frags_to = {(r, tuple(f)) for r, f in fragments(m_to, table)}

    def side(frags) -> pa.Table | None:
        parts = []
        for r, f in sorted(frags):
            d = fragment_dir(root, table, r, f[0])
            if os.path.isdir(d):
                parts.append(pq.read_table(d).select(list(columns)))
        return pa.concat_tables(parts) if parts else None

    removed, added = side(frags_from - frags_to), side(frags_to - frags_from)
    if removed is None or added is None:
        one, tag = (added, "insert") if removed is None else (removed, "delete")
        return [] if one is None else [(*r.values(), tag) for r in one.to_pylist()]
    f_cnt = removed.to_pandas().groupby(list(columns), dropna=False).size()
    t_cnt = added.to_pandas().groupby(list(columns), dropna=False).size()
    diff = t_cnt.subtract(f_cnt, fill_value=0).astype(int)
    rows = []
    for key, delta in diff.items():
        if delta == 0:
            continue
        tup = key if isinstance(key, tuple) else (key,)
        tag = "insert" if delta > 0 else "delete"
        rows.extend([(*tup, tag)] * abs(int(delta)))
    return rows


class SnapshotChangesStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options, columns):
        self._root = options.get("root")
        self._table = options.get("table", "rewards")
        if not self._root:
            raise ValueError("snapshot_changes requires option 'root'")
        self._columns = columns

    def initialOffset(self):
        # start BEFORE the first commit: the first batch emits the
        # whole current table as inserts (a consumer bootstraps its
        # materialized copy, then follows increments)
        return {"version": 0}

    def read(self, start):
        cur = SnapshotStore(self._root).current_version()
        v0 = start["version"]
        if cur is None or cur <= v0:
            return iter([]), {"version": v0}
        rows = _changes_rows(self._root, self._table, v0, cur, self._columns)
        return iter(rows), {"version": cur}

    def readBetweenOffsets(self, start, end):
        return iter(
            _changes_rows(
                self._root, self._table, start["version"], end["version"],
                self._columns,
            )
        )

    def commit(self, end):
        pass


class SnapshotChangesDataSource(DataSource):
    @classmethod
    def name(cls):
        return "snapshot_changes"

    def schema(self):
        # driver-side: infer the table's column schema from one leaf
        # parquet file of the CURRENT manifest, append _change_type.
        # (Skipped entirely when the caller supplies .schema(...) —
        # the reader derives its column list from whatever schema the
        # engine hands it, so both paths work: review find, the first
        # cut smuggled the columns through an option that only the
        # inference path populated.)
        import os

        import pyarrow.parquet as pq

        root = self.options.get("root")
        table = self.options.get("table", "rewards")
        manifest = SnapshotStore(root).current()
        if manifest is None:
            raise ValueError(f"snapshot_changes: no snapshot store at {root}")
        require_fragments(manifest, root)
        frags = sorted(fragments(manifest, table))
        if not frags:
            raise ValueError(
                f"snapshot_changes: no table {table} in snapshot {manifest['version']}"
            )
        r, frag = frags[0]
        d = fragment_dir(root, table, r, frag[0])
        leaf = next(
            f for f in sorted(os.listdir(d)) if f.endswith(".parquet")
        )
        sch = pq.read_schema(os.path.join(d, leaf))
        _SPARK_TYPES = {
            "int64": "long", "int32": "int", "double": "double",
            "float": "float", "string": "string", "large_string": "string",
            "bool": "boolean",
        }
        cols = []
        for field in sch:
            t = _SPARK_TYPES.get(str(field.type))
            if t is None:
                raise ValueError(
                    f"snapshot_changes: unsupported column type {field.type} "
                    f"for {field.name}"
                )
            cols.append((field.name, t))
        return (
            ", ".join(f"{n} {t}" for n, t in cols) + ", _change_type string"
        )

    def simpleStreamReader(self, schema):
        # `schema` is whatever the engine resolved — inferred via
        # schema() above or supplied by the caller; the data columns
        # are everything except the appended _change_type tag.
        columns = [f.name for f in schema.fields if f.name != "_change_type"]
        if not columns:
            raise ValueError("snapshot_changes: schema has no data columns")
        return SnapshotChangesStreamReader(self.options, columns)


def register_snapshot_changes(spark) -> None:
    spark.dataSource.register(SnapshotChangesDataSource)
