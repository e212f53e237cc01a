"""Small-file compaction — the maintenance job every long-running
append sink needs.

The reference appends one INSERT batch per block forever
(src/reward.rs:38-44, src/block_processor.rs:130): in parquet terms
that is one tiny file per block — and at 1 block/min, half a million
files a year. Small files poison a 100 TB deployment twice: the
driver's file listing / split planning grows linearly, and each task
pays the parquet footer+dictionary open cost for a few KB of rows.

`compact_parquet` rewrites a directory to ~`PACKED_FILE_BYTES` files:
it sizes the output from the ACTUAL input bytes (not a guessed row
count), rewrites with a single narrow repartition, and keeps content
exactly (proven by the `sink_compact_files` oracle).
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


def _n_data_files(pdir: str) -> int:
    return sum(
        1
        for f in os.listdir(pdir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def compact_snapshot(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict | None:
    """Compact a snapshot-manifest store (the follower's sink, and each
    batch-id store: a streaming consumer's store or an operator state)
    the lakehouse way: merge each block range's fragments (one per
    tick, apply or fold-in that landed in it), or a
    lone fragment holding more files than its size needs, into one
    fragment of a new version directory, and publish a manifest that
    remaps them — data files are never mutated, so concurrent snapshot
    readers are never torn, and a crash before publish leaves an orphan
    v-dir exactly like a crashed batch (invisible, overwritten by the
    next commit).

    Only fragments listed in the CURRENT manifest are read or
    rewritten: uncommitted/orphaned directories (a crashed writer's
    half batch) are never compacted into the corpus. Old version dirs
    linger for older-snapshot readers until `vacuum` reclaims them.
    Do not run concurrently with the follower — both would write the
    same next-version directory (single-writer contract, as vacuum).

    Returns the published manifest, or None if nothing needed
    compaction (no new version is published).
    """
    from .snapshot import SnapshotStore, fragment_dir, _read_fragments, require_fragments

    store = SnapshotStore(root)
    m = store.current()
    if m is None:
        return None
    require_fragments(m, root)
    version = m["version"] + 1
    new_tables: dict[str, dict] = {}
    for table, parts in m["tables"].items():
        new_parts = dict(parts)
        merge: dict[int, list] = {}
        for r, frags in parts.items():
            if len(frags) == 1:
                pdir = fragment_dir(root, table, int(r), frags[0][0])
                total = sum(
                    os.path.getsize(os.path.join(pdir, f))
                    for f in os.listdir(pdir)
                    if f.endswith(".parquet")
                )
                if _n_data_files(pdir) <= max(1, math.ceil(total / target_file_bytes)):
                    continue
            merge[int(r)] = frags
        if merge:
            df = _read_fragments(
                spark, root, table,
                [(r, frag[0]) for r, frags in merge.items() for frag in frags],
            )
            vdir = os.path.join(root, table, f"v={version}")
            (
                df.repartition("block_range")
                .write.mode("overwrite")
                .partitionBy("block_range")
                .parquet(vdir)
            )
            for r, frags in merge.items():
                new_parts[str(r)] = [
                    [version, min(f[1] for f in frags), max(f[2] for f in frags)]
                ]
        new_tables[table] = new_parts
    if new_tables == m["tables"]:
        return None
    manifest = dict(m)
    manifest["version"] = version
    manifest["tables"] = new_tables
    store.publish(manifest)
    return manifest
