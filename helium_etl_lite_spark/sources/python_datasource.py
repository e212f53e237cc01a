"""Spark 4 Python DataSource implementing the reference's block-feed
shape as a first-class `spark.read.format(...)` source.

The reference ingests blocks by driver-side JSON-RPC point fetches
(src/block_processor.rs:29,58 — one request per block, inherently
serial). `sources/block_source.py` already mirrors that contract; this
module is the DISTRIBUTED evolution: the Python DataSource API
(pyspark.sql.datasource, Spark 4) lets the fetch itself run on
executors, one InputPartition per block file/height range, so ingest
parallelism scales with the cluster instead of the driver's socket.

The one reader here is a batch reader over block JSON-lines files
(one partition per file — at scale, one per height range); the same
class structure accepts an RPC-backed `read()` body, which is exactly
how a live blockchain-node follower would fan point fetches across
executors. A snapshot store's change feed is not a data source: its
consumers read it with etl/snapshot.py read_changes, through
streaming/mirror.py follow_changes.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

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
