"""Small-file compaction — the maintenance job every long-running
append sink needs.

The reference appends one INSERT batch per block forever
(src/reward.rs:38-44, src/block_processor.rs:130): in parquet terms
that is one tiny file per block — and at 1 block/min, half a million
files a year. Small files poison a 100 TB deployment twice: the
driver's file listing / split planning grows linearly, and each task
pays the parquet footer+dictionary open cost for a few KB of rows.

`compact_parquet` rewrites a directory to ~`target_file_bytes` files:
it sizes the output from the ACTUAL input bytes (not a guessed row
count), rewrites with a single narrow repartition, and keeps content
exactly (proven by the `sink_compact_files` oracle).
"""

from __future__ import annotations

import math
import os
import shutil
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


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite `in_path` to `out_path` with ~target-sized files;
    returns the number of output files requested.

    Uses `repartition(n)` (round-robin) for even output sizes. At
    cluster scale the same routine runs per partition directory so
    compaction parallelizes across partitions and never rewrites cold
    data.
    """
    total, _ = dir_bytes(spark, in_path)
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(in_path)
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    return n


def _partition_dirs(table_dir: str, prefix: str = "block_range=") -> list[str]:
    return sorted(
        d
        for d in os.listdir(table_dir)
        if d.startswith(prefix)
        and os.path.isdir(os.path.join(table_dir, d))
    )


def _n_data_files(pdir: str) -> int:
    return sum(
        1
        for f in os.listdir(pdir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def compact_partitioned_table(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_prefix: str = "block_range=",
    distinct_rows: bool = False,
) -> dict[str, tuple[int, int]]:
    """Compact each `{partition_prefix}*` partition directory of a plain
    hive-partitioned table in place (the dedup state tables use
    `shard=`); returns {partition: (files_before, files_after)} for the
    rewritten ones.

    Per-partition rewrite (never the whole table): cold partitions are
    untouched, so the maintenance cost tracks the append rate, not the
    corpus size — at cluster scale the per-partition rewrites are
    independent jobs. The swap is rewrite-to-tmp → two renames, with
    crash recovery on entry (an interrupted swap leaves
    `.__compact_old`; the next run restores it). This assumes no
    concurrent reader of the partition mid-swap — run it between ingest
    batches; compact_snapshot is the no-reader-torn variant for
    snapshot stores such as the follower's.
    """
    # crash recovery BEFORE listing partitions: an interrupted swap
    # leaves the data in `.__compact_old` with the partition dir gone,
    # so scanning only live partition dirs would never see it.
    for d in os.listdir(table_dir):
        path = os.path.join(table_dir, d)
        if d.endswith(".__compact_old"):
            orig = path[: -len(".__compact_old")]
            if os.path.isdir(orig):
                shutil.rmtree(path)  # swap completed; leftover garbage
            else:
                os.rename(path, orig)  # restore the moved-aside data
        elif d.endswith(".__compact_tmp"):
            shutil.rmtree(path, ignore_errors=True)

    results: dict[str, tuple[int, int]] = {}
    for part in _partition_dirs(table_dir, partition_prefix):
        pdir = os.path.join(table_dir, part)
        old_dir = pdir + ".__compact_old"
        before = _n_data_files(pdir)
        total = sum(
            os.path.getsize(os.path.join(pdir, f))
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        )
        after = max(1, math.ceil(total / target_file_bytes))
        # distinct_rows (set-semantics state tables): a replay's
        # duplicate rows can only live in a SECOND file of the shard
        # (each append is internally distinct), so any multi-file shard
        # gets rewritten even when already under the size target.
        if before <= after and not (distinct_rows and before > 1):
            continue  # already compact
        tmp = pdir + ".__compact_tmp"
        df = spark.read.parquet(pdir)
        if distinct_rows:
            df = df.distinct()
        df.repartition(after).write.mode("overwrite").parquet(tmp)
        os.rename(pdir, old_dir)
        os.rename(tmp, pdir)
        shutil.rmtree(old_dir)
        results[part] = (before, after)
    return results


def compact_snapshot(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict | None:
    """Compact a snapshot-manifest store (the follower's sink, and each
    streaming consumer's store) the lakehouse way: merge each block
    range's fragments (one per tick or apply that landed in it), or a
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
