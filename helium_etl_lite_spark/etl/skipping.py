"""File-level min/max skipping index over a parquet directory — the
lakehouse data-skipping pattern (Delta/Iceberg column stats) built from
nothing but parquet FOOTERS.

Why it matters at 100 TB: partition pruning (sink_partitioned_prune)
only helps on the partition column; a skipping index extends pruning to
any clustered column (write with repartitionByRange and every file
carries a tight value range).  The index build reads ONLY footer
metadata — a few KB per file, never row data — and is itself
distributed: the file list fans out over executors via mapInPandas, so
a million-file table indexes in parallel.  The index table is one row
per file (bounded by file count, not rows) and lives next to the data;
planning a query = one scan of the index + an explicit file-list read.

This is the "poor man's Delta" half of the snapshot store: etl/snapshot
tracks files transactionally, this module prunes them statistically.
"""

from __future__ import annotations

import os
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_INDEX_SCHEMA = (
    "file string, n_rows long, min_val string, max_val string"
)


def _footer_stats(paths: Iterable[str], col: str) -> Iterator[pd.DataFrame]:
    """Executor-side: read parquet footers (metadata pages only) and
    emit one (file, n_rows, min, max) row per file.  Values are
    stringified via repr-stable ISO forms so one index schema serves
    timestamp/date/numeric/string columns; callers compare after
    casting back."""
    import pyarrow.parquet as pq

    for batch in paths:
        rows = []
        for path in batch["file"]:
            md = pq.ParquetFile(path).metadata
            idx = md.schema.names.index(col)
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    # A file without stats can never be pruned — honest
                    # fallback is an unbounded range, not an error.
                    lo, hi = None, None
                    break
                lo = st.min if lo is None or st.min < lo else lo
                hi = st.max if hi is None or st.max > hi else hi
            rows.append(
                {
                    "file": path,
                    "n_rows": md.num_rows,
                    "min_val": None if lo is None else str(lo),
                    "max_val": None if hi is None else str(hi),
                }
            )
        yield pd.DataFrame(rows, columns=["file", "n_rows", "min_val", "max_val"])


def build_minmax_index(spark: SparkSession, path: str, col: str) -> DataFrame:
    """One index row per data file under ``path`` with footer-derived
    min/max of ``col``.  Distributed footer reads (mapInPandas over the
    file list); no row data is touched."""
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    fdf = spark.createDataFrame([(f,) for f in files], "file string")
    fdf = fdf.repartition(max(1, min(len(files), 32)))
    return fdf.mapInPandas(
        lambda it: _footer_stats(it, col), schema=_INDEX_SCHEMA
    )


def prune_files(index: DataFrame, lo, hi) -> list[str]:
    """Files whose [min_val, max_val] range intersects [lo, hi] —
    stats-less files (NULL range) are conservatively kept.  Returns a
    driver-side path list: bounded by matching FILE count (the same
    contract as Spark's own PartitioningAwareFileIndex listing).

    The index stores the stats as strings (one schema serves every
    column type) and the bounds compare as strings, which is correct
    only for types whose string form sorts like the value (ISO
    timestamps/dates, plain strings) — lexicographically, '100' < '95',
    so a numeric range pruned this way would silently drop matching
    files."""
    from pyspark.sql import functions as F

    kept = index.where(
        F.col("min_val").isNull()
        | ((F.col("max_val") >= F.lit(lo)) & (F.col("min_val") <= F.lit(hi)))
    )
    return [r["file"] for r in kept.select("file").collect()]


# ---- per-file Bloom skipping (point lookups; the min/max complement) ----

BLOOM_K = 3


def _bloom_pos(key_col, j: int, m_bits: int):
    """Engine-portable bit position: first 8 md5 hex digits of
    "<key>#<j>" mod m_bits — identical math to the probe side so build
    and probe address the same bits (same construction as the
    agg_bloom_filter_probe sketch)."""
    from pyspark.sql import functions as F

    return (
        F.conv(
            F.substring(
                F.md5(F.concat(key_col.cast("string"), F.lit(f"#{j}"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % m_bits
    )


BITS_PER_KEY = 16


def bloom_bits_for(n_rows: int, n_files: int) -> int:
    """Power-of-two bloom width sized from measured rows-per-file —
    the knob Delta exposes as fpp/numItems. 16 bits/key at k=3 gives
    ~0.4% per-file false-positive rate."""
    per_file = max(n_rows, 1) // max(n_files, 1)
    return 1 << max(12, (BITS_PER_KEY * max(per_file, 1)).bit_length())


def build_bloom_index(df, key: str, m_bits: int):
    """One bloom per data file over ``key``: (file, word, wbits) rows
    from input_file_name() + explode(k) + bit_or — a single
    distributed pass, map-side combinable (per-partition blooms OR
    together). ``df`` must be a fresh parquet read of the target so
    input_file_name() is populated."""
    from pyspark.sql import functions as F

    return (
        df.select(
            F.input_file_name().alias("file"),
            F.explode(
                F.array(
                    *[_bloom_pos(F.col(key), j, m_bits) for j in range(BLOOM_K)]
                )
            ).alias("pos"),
        )
        .groupBy("file", (F.col("pos") / 32).cast("long").alias("word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            ).alias("wbits")
        )
    )


def bloom_candidate_files(index, probe, key: str, m_bits: int):
    """(key, file) pairs whose bloom sets ALL k bits for the key —
    the files a point lookup must read. ``probe`` is a small DataFrame
    of keys (broadcast); missing (file, word) rows count as unset
    bits, so sparse blooms prune correctly."""
    from pyspark.sql import functions as F

    # Distinct keys first: a key appearing twice in `probe` would
    # explode to 2k rows and the nset == BLOOM_K equality below would
    # never hold (nset = 2k) — every file pruned, silent false
    # negatives on the lookup.
    probe_pos = probe.select(key).distinct().select(
        key,
        F.explode(
            F.array(*[_bloom_pos(F.col(key), j, m_bits) for j in range(BLOOM_K)])
        ).alias("pos"),
    )
    return (
        index.join(
            F.broadcast(probe_pos),
            index["word"] == (probe_pos["pos"] / 32).cast("long"),
        )
        .where(F.expr("(shiftright(wbits, CAST(pos % 32 AS INT)) & 1) = 1"))
        .groupBy(key, "file")
        .agg(F.count(F.lit(1)).alias("nset"))
        .where(F.col("nset") == BLOOM_K)
        .select(key, "file")
    )
