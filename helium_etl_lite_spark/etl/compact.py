"""Small-file compaction — the maintenance job every long-running
append sink needs.

The reference appends one INSERT batch per block forever
(src/reward.rs:38-44, src/block_processor.rs:130): in parquet terms
that is one tiny file per block — and at 1 block/min, half a million
files a year. Small files poison a 100 TB deployment twice: the
driver's file listing / split planning grows linearly, and each task
pays the parquet footer+dictionary open cost for a few KB of rows.

`compact_parquet` rewrites a plain parquet directory (the registry
query `sink_compact_files`) to ~`PACKED_FILE_BYTES` files: it sizes the
output from the ACTUAL input bytes (not a guessed row count), rewrites
with a single narrow repartition, and keeps content exactly (proven by
that query's oracle). A snapshot store never needs it: each commit
folds its ranges' small fragments, and `cli compact` is the same fold
over every range (etl/snapshot.py `compact_snapshot`).
"""

from __future__ import annotations

import math
import os
from urllib.parse import urlparse

from pyspark.sql import SparkSession


def _local_path(uri: str) -> str:
    p = urlparse(uri)
    return p.path if p.scheme in ("file", "") else uri


def dir_bytes(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total_bytes, n_files) of a parquet directory, from the files
    the scan would actually read (`df.inputFiles()` — works for any
    Hadoop-visible FS; sizes via os.stat for file:// URIs)."""
    files = spark.read.parquet(path).inputFiles()
    total = sum(os.path.getsize(_local_path(f)) for f in files)
    return total, len(files)


PACKED_FILE_BYTES = 4 * 1024 * 1024


def compact_parquet(spark: SparkSession, in_path: str, out_path: str) -> int:
    """Rewrite `in_path` to `out_path` with ~target-sized files;
    returns the number of output files requested.

    Uses `repartition(n)` (round-robin) for even output sizes. At
    cluster scale the same routine runs per partition directory so
    compaction parallelizes across partitions and never rewrites cold
    data.
    """
    total, _ = dir_bytes(spark, in_path)
    n = max(1, math.ceil(total / PACKED_FILE_BYTES))
    df = spark.read.parquet(in_path)
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    return n
