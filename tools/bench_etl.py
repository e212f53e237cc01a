"""ETL throughput microbench: blocks/sec through the full ingest
pipeline (the reference's actual job).

Usage: python3 tools/bench_etl.py [n_blocks] [mode]   (default 20000 full)

Builds a synthetic chain (etl/fixtures.py shapes), lands it as parquet,
then times IncrementalFollower.catch_up() — cursor init, transform
(explode/sentinel/enum-validate/semi-join), the snapshot commit of data
and cursor — and prints ONE JSON line.

Context for the number: the reference processes one block per loop
iteration with 1 + N_txn JSON-RPC round trips and 2 Postgres round
trips per reward row, single-threaded (reference src/block_processor.rs:29,58,130,
src/reward.rs:20,38) — structurally bounded to ~10 blocks/s even on a
zero-latency network, and ~1 block/s at realistic RPC latency. The
follower ingests the lagging range in passes of up to 500 blocks, each
one Arrow transform in the driver and one commit, with no Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from helium_etl_lite_spark.etl import fixtures
from helium_etl_lite_spark.etl.pipeline import FollowerConfig, IncrementalFollower
from helium_etl_lite_spark.etl.snapshot import read_snapshot
from helium_etl_lite_spark.session import get_spark
from helium_etl_lite_spark.sources.block_source import LandedBlockSource


def main():
    n_blocks = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    mode = sys.argv[2] if len(sys.argv) > 2 else "full"
    spark = get_spark("bench_etl")
    work = tempfile.mkdtemp(prefix="bench_etl_")
    try:
        blocks_df, txns_df = fixtures.make_chain(spark, first_block=1000, n_blocks=n_blocks)
        bp, tp = f"{work}/blocks", f"{work}/txns"
        blocks_df.write.mode("overwrite").parquet(bp)
        txns_df.write.mode("overwrite").parquet(tp)

        cfg = FollowerConfig(
            mode=mode, out_dir=f"{work}/out", backfill=True, max_blocks_per_batch=None
        )
        filters = fixtures.make_filters(spark).toArrow() if mode == "filters" else None
        follower = IncrementalFollower(LandedBlockSource(bp, tp, False), cfg, filters=filters)
        t0 = time.perf_counter()
        n = follower.catch_up()
        elapsed = time.perf_counter() - t0
        rewards_rows = read_snapshot(spark, f"{work}/out", "rewards").count()
        print(
            json.dumps(
                {
                    "metric": "etl_blocks_per_sec",
                    "value": round(n / elapsed, 1),
                    "unit": "blocks/sec",
                    "blocks": n,
                    "elapsed_sec": round(elapsed, 2),
                    "rewards_rows": rewards_rows,
                    "mode": mode,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
