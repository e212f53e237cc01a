"""CLI — the reference's operator surface (`helium-etl-lite start` /
`migrate` driven by settings.toml, reference src/main.rs:19-23,
src/settings.rs:33-48) re-expressed for the Spark engine.

Commands:
  migrate   initialize the output layout + schema manifest (the refinery
            migrations analog, reference src/migrate.rs:4-18)
  once      one catch-up pass: process (cursor, tip] and exit (no Spark)
  start     follow loop: catch up, then poll every `tick_seconds`
            (reference's 10 s tokio tick, src/main.rs:55-63), ctrl-c to
            stop gracefully (src/main.rs:48-52) (no Spark)
  sql       run ad-hoc SQL over the serving views (rewards /
            transactions / follower_info — what a reference user does
            with psql against the Postgres tables):
            ... sql --config settings.toml -e "SELECT ..."
  status    cursor, snapshot version and per-table partition, fragment,
            file and byte counts (no Spark); each commit's fold keeps a
            range's fragments to a few per size tier
  compact   the commit's fold over every block range holding more than
            one fragment: each merges into one fragment of a new
            snapshot version
  vacuum    delete data no kept snapshot version references — the
            disk maintenance: a replay, a fold or a compaction writes
            new fragments and keeps the superseded ones for
            older-snapshot readers until vacuum runs

status, compact and vacuum read only out_dir, so they serve every
snapshot store: the follower's, and each batch-id store
(etl/snapshot.py): a change-feed consumer's store, whose cursor is the
source snapshot version it has applied, or an incremental operator's
state, whose cursor is its last batch id.

Config (TOML, reference settings.toml keys where they translate):
  node_addr                 live blockchain-node JSON-RPC endpoint
                            (reference src/settings.rs:33) — follows the
                            chain via HttpRpcClient when set
  blocks_path / txns_path   parquet or JSON-lines chain source (landed
                            block data; used when node_addr is absent)
  source_format             "json" reads the landed files as JSON-lines
                            (also when blocks_path ends in .json/.jsonl);
                            "parquet" (the default) otherwise
  out_dir                   snapshot store root (database_url analog):
                            data and cursor commit together in one
                            manifest rename (etl/snapshot.py)
  mode                      rewards | full | filters
  backfill                  a TOML boolean, true or false (same
                            semantics as reference)
  filters_path              parquet with (type, value) for filters mode
  tick_seconds              poll interval for `start`, a positive
                            number (default 10)
  max_blocks_per_batch      blocks per commit, a positive integer
                            (default and most: 500, etl/pipeline.py
                            PASS_LIMIT)
  block_range_size          output partition granularity, a positive
                            integer (default 1000)

Usage:
  python -m helium_etl_lite_spark.cli migrate --config settings.toml
  python -m helium_etl_lite_spark.cli once    --config settings.toml
  python -m helium_etl_lite_spark.cli start   --config settings.toml
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import signal
import sys
import time
import tomllib

import pyarrow as pa
import pyarrow.parquet as pq

from .etl.pipeline import CursorStore, FollowerConfig, IncrementalFollower
from .etl.schemas import FILTERS_ARROW, REWARDS_OUT_SCHEMA, TRANSACTIONS_OUT_SCHEMA
from .etl.snapshot import RANGE_SIZE
from .session import get_spark
from .sources.block_source import HttpRpcClient, LandedBlockSource, RpcBlockSource


def load_config(path: str) -> dict:
    with open(path, "rb") as f:
        cfg = tomllib.load(f)
    if "node_addr" in cfg:
        required = ("out_dir",)  # live JSON-RPC source (reference settings.toml)
    else:
        required = ("blocks_path", "txns_path", "out_dir")
    for key in required:
        if key not in cfg:
            raise SystemExit(f"config missing required key: {key}")
    if str(cfg.get("mode", "rewards")) not in ("rewards", "full", "filters"):
        raise SystemExit(f"invalid mode: {cfg.get('mode')!r}")
    # any other value would pick the parquet reader and fail inside Spark
    if cfg.get("source_format", "parquet") not in ("json", "parquet"):
        raise SystemExit(
            f"invalid source_format: {cfg['source_format']!r} (expected \"json\" or \"parquet\")"
        )
    for key in ("max_blocks_per_batch", "block_range_size"):
        v = cfg.get(key)
        if v is not None and (type(v) is not int or v <= 0):
            raise SystemExit(f"invalid {key}: {v!r} (expected a positive integer)")
    # bool("false") is True: a quoted value would silently backfill
    if type(cfg.get("backfill", False)) is not bool:
        raise SystemExit(f"invalid backfill: {cfg['backfill']!r} (expected true or false)")
    # 0 would make `start` poll without sleeping
    tick = cfg.get("tick_seconds", 10)
    if type(tick) not in (int, float) or not 0 < tick < float("inf"):
        raise SystemExit(f"invalid tick_seconds: {tick!r} (expected a positive number)")
    return cfg


def _positive_int(text: str) -> int:
    """argparse type for a count or size that must be at least 1."""
    if not text.isdecimal() or int(text) < 1:
        raise argparse.ArgumentTypeError(f"{text!r} is not a positive integer")
    return int(text)


def _non_negative_int(text: str) -> int:
    """argparse type for a snapshot version where 0 names the empty
    store before the first commit."""
    if not text.isdecimal():
        raise argparse.ArgumentTypeError(f"{text!r} is not a non-negative integer")
    return int(text)


def setup_logger(cfg) -> logging.Logger:
    """File logger when [log].log_dir is configured (the reference's
    flexi_logger-to-file setup, src/main.rs:70-89); stderr otherwise."""
    logger = logging.getLogger("helium_etl_lite_spark")
    logger.setLevel(logging.INFO)
    logger.handlers.clear()
    fmt = logging.Formatter("%(asctime)s %(levelname)s %(message)s")
    log_dir = (cfg.get("log") or {}).get("log_dir")
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        handler: logging.Handler = logging.FileHandler(
            os.path.join(log_dir, "helium_etl_lite_spark.log")
        )
    else:
        handler = logging.StreamHandler()
    handler.setFormatter(fmt)
    logger.addHandler(handler)
    return logger


def _filters(cfg) -> pa.Table | None:
    """The filters table at filters_path (filters mode), read with
    pyarrow: the follower's pass uses it as it is."""
    if cfg.get("mode") != "filters":
        return None
    if "filters_path" not in cfg:
        raise SystemExit("filters mode requires filters_path")
    return pq.read_table(cfg["filters_path"], columns=FILTERS_ARROW.names).cast(FILTERS_ARROW)


def _follower_config(cfg) -> FollowerConfig:
    return FollowerConfig(
        mode=str(cfg.get("mode", "rewards")),
        backfill=bool(cfg.get("backfill", False)),
        out_dir=str(cfg["out_dir"]),
        max_blocks_per_batch=cfg.get("max_blocks_per_batch"),
        block_range_size=int(cfg.get("block_range_size", RANGE_SIZE)),
    )


def _follower(cfg) -> IncrementalFollower:
    """The follower over the configured source: a live node when
    node_addr is set (reference settings.node_addr, src/settings.rs:33),
    landed block files otherwise."""
    if "node_addr" in cfg:
        source = RpcBlockSource(HttpRpcClient(str(cfg["node_addr"])))
    else:
        as_json = str(cfg["blocks_path"]).endswith((".json", ".jsonl")) or (
            cfg.get("source_format") == "json"
        )
        source = LandedBlockSource(str(cfg["blocks_path"]), str(cfg["txns_path"]), as_json)
    return IncrementalFollower(source, _follower_config(cfg), filters=_filters(cfg))


def _catch_up(cfg) -> tuple[int, tuple[int, int] | None]:
    """Catch up to the configured source's tip. Returns (blocks loaded,
    cursor); the cursor is None while the source has no block."""
    n = _follower(cfg).catch_up()
    return n, CursorStore(str(cfg["out_dir"])).read()


def cmd_migrate(spark, cfg) -> None:
    """Create the output layout + a schema manifest — idempotent, like
    re-running refinery migrations."""
    out = str(cfg["out_dir"])
    os.makedirs(out, exist_ok=True)
    manifest = {
        "rewards": REWARDS_OUT_SCHEMA.simpleString(),
        "transactions": TRANSACTIONS_OUT_SCHEMA.simpleString(),
        "follower_info": "struct<height:bigint,first_block:bigint>",
        "partitioning": f"block_range = block div {cfg.get('block_range_size', RANGE_SIZE)}",
    }
    with open(os.path.join(out, "_schema_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    setup_logger(cfg).info(f"migrate: layout ready at {out}")


def cmd_once(spark, cfg, log=None) -> int:
    n, cursor = _catch_up(cfg)
    (log or setup_logger(cfg)).info(
        f"once: loaded {n} blocks; "
        + ("no block at the source yet" if cursor is None
           else f"cursor at {cursor[0]} (first_block {cursor[1]})")
    )
    return n


def cmd_start(spark, cfg, log=None, max_ticks: int | None = None) -> None:
    """Follow loop. max_ticks bounds the number of poll passes (tests);
    None = run until ctrl-c like the reference."""
    log = log or setup_logger(cfg)
    stop = {"flag": False}

    def on_sigint(sig, frame):  # graceful shutdown (reference src/main.rs:48-52)
        stop["flag"] = True
        log.info("start: shutdown requested; finishing current pass")

    previous = signal.signal(signal.SIGINT, on_sigint)
    tick = float(cfg.get("tick_seconds", 10))
    try:
        while not stop["flag"]:
            try:
                n, cur = _catch_up(cfg)
            except Exception as exc:
                # fail-stop per pass, retry next tick (reference logs the
                # block error and re-polls, src/follower.rs:86-93) — a
                # flaky node or a bad batch must not kill the follower;
                # the idempotent sink makes the retry converge.
                log.error(f"start: pass failed ({exc}); retrying next tick")
                n = 0
            else:
                if n:
                    log.info(f"start: +{n} blocks, cursor {cur[0]}")
            if max_ticks is not None:
                max_ticks -= 1
                if max_ticks <= 0:
                    break
            # sleep in small slices so ctrl-c is responsive
            deadline = time.monotonic() + tick
            while not stop["flag"] and time.monotonic() < deadline:
                time.sleep(0.2)
    finally:
        # a later ctrl-c must reach whoever called us, not a finished loop
        signal.signal(signal.SIGINT, previous)
    log.info("start: stopped")


def cmd_sql(
    spark,
    cfg,
    sql_text: str,
    log=None,
    at_version: int | None = None,
    changes_since: int | None = None,
    change_key_cols: list[str] | None = None,
) -> int:
    """Serving-layer escape hatch: register the output tables under the
    reference's names (the committed snapshot; --at-version
    time-travels to an older one; --changes-since N adds
    `<table>_changes` CDC views diffing version N -> the served one;
    --key-cols upgrades those views to the KEYED feed with
    update_preimage/update_postimage pairing) and run one SQL
    statement, printing up to 1000 rows. Returns the row count."""
    from . import serving

    serving.register_views(
        spark, str(cfg["out_dir"]), at_version=at_version,
        changes_since=changes_since, change_key_cols=change_key_cols,
    )
    out = spark.sql(sql_text)
    rows = out.limit(1000).collect()
    header = "\t".join(out.columns)
    print(header)
    for r in rows:
        print("\t".join("NULL" if v is None else str(v) for v in r))
    (log or setup_logger(cfg)).info(f"sql: {len(rows)} rows")
    return len(rows)


def cmd_status(cfg, log=None) -> dict:
    """Operational status without a SparkSession (the reference's
    follower_info peek, src/follower.rs:123-142, plus the physical
    inventory an operator actually wants): cursor position, snapshot
    version, and per-table block-range (partition), fragment, file and
    byte counts, all from the CURRENT manifest. Each commit folds a
    range's newest same-size fragments; `compact` brings the fragment
    count down to one per range. Every field but out_dir is
    None (tables empty) when out_dir holds no snapshot store."""
    from .etl.snapshot import SnapshotStore, fragment_dir, fragments, require_fragments

    out = str(cfg["out_dir"])
    status: dict = {
        "out_dir": out, "snapshot_version": None, "height": None,
        "first_block": None, "tables": {},
    }

    def table_stats(m: dict, t: str) -> dict:
        n_files = 0
        n_bytes = 0
        dirs = [fragment_dir(out, t, r, frag[0]) for r, frag in fragments(m, t)]
        for p in dirs:
            if not os.path.isdir(p):
                continue
            for f in os.listdir(p):
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(p, f))
        return {
            "n_partitions": len(m["tables"][t]), "n_fragments": len(dirs),
            "n_files": n_files, "n_bytes": n_bytes,
        }

    m = SnapshotStore(out).current()
    if m is not None:
        require_fragments(m, out)
        status["snapshot_version"] = m["version"]
        status["height"] = m["height"]
        status["first_block"] = m["first_block"]
        status["tables"] = {t: table_stats(m, t) for t in m["tables"]}
    print(json.dumps(status, indent=1, sort_keys=True))
    (log or setup_logger(cfg)).info(
        f"status: snapshot version {status['snapshot_version']} at {out}"
    )
    return status


def cmd_vacuum(cfg, keep_versions: int) -> list[str]:
    """Reclaim disk: delete the data directories no kept snapshot
    version references. A replay, a fold and `compact` leave each
    superseded fragment in place for older-snapshot readers, so disk
    use grows until this runs. Needs no SparkSession — pure manifest
    bookkeeping."""
    from .etl.snapshot import SnapshotStore

    store = SnapshotStore(str(cfg["out_dir"]))
    if store.current_version() is None:
        raise SystemExit("vacuum: no snapshot store at out_dir")
    removed = store.vacuum(keep_versions=keep_versions)
    setup_logger(cfg).info(
        f"vacuum: removed {len(removed)} version dirs (kept last {keep_versions})"
    )
    return removed


def cmd_compact(spark, cfg) -> dict:
    """Maintenance: the fold each commit runs on its ranges' newest
    same-size fragments (the parquet analog of the reference's
    one-INSERT-per-block append, src/reward.rs:38-44, kept bounded),
    applied to every range holding more than one fragment: each merges
    into one fragment of a new snapshot version (committed fragments
    only, readers never torn). The superseded files stay until `vacuum`
    reclaims them. The config needs only out_dir. Single-writer
    contract: don't run concurrently with the follower. Returns the
    published manifest, or {} when nothing needed compaction."""
    from .etl.snapshot import compact_snapshot

    log = setup_logger(cfg)
    manifest = compact_snapshot(spark, str(cfg["out_dir"]))
    if manifest is None:
        log.info("compact: nothing to compact")
        return {}
    log.info(f"compact: published snapshot version {manifest['version']}")
    return manifest


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="helium_etl_lite_spark")
    p.add_argument(
        "command",
        choices=["migrate", "once", "start", "sql", "vacuum", "compact", "status"],
    )
    p.add_argument("--config", help="TOML config path")
    p.add_argument("-e", "--execute", help="SQL statement (sql command)")
    p.add_argument(
        "--at-version", type=_positive_int, default=None,
        help="sql: time-travel the store to this snapshot version",
    )
    p.add_argument(
        "--changes-since", type=_non_negative_int, default=None,
        help="sql: register <table>_changes CDC views diffing this "
        "snapshot version against the served one (0: the empty store "
        "before the first commit, so every row is an insert)",
    )
    p.add_argument(
        "--key-cols", default=None,
        help="sql: comma-separated key columns — upgrades the "
        "--changes-since views to the keyed feed (in-place changes "
        "pair as update_preimage/update_postimage)",
    )
    p.add_argument(
        "--keep-versions", type=_positive_int, default=2,
        help="vacuum: snapshot versions to keep (default 2)",
    )
    args = p.parse_args(argv)
    if not args.config:
        raise SystemExit(f"{args.command} requires --config")
    if args.command in ("vacuum", "compact", "status"):
        # maintenance verbs: only out_dir matters; skip source-path
        # validation
        with open(args.config, "rb") as f:
            cfg = tomllib.load(f)
        if "out_dir" not in cfg:
            raise SystemExit("config missing required key: out_dir")
        if args.command == "vacuum":
            cmd_vacuum(cfg, args.keep_versions)  # no Spark needed
            return 0
        if args.command == "status":
            cmd_status(cfg)  # no Spark needed
            return 0
    else:
        cfg = load_config(args.config)
    if args.command == "sql" and not args.execute:
        raise SystemExit("sql command requires -e/--execute")
    if getattr(args, "key_cols", None) and args.changes_since is None:
        raise SystemExit(
            "--key-cols only applies to the --changes-since CDC views; "
            "pass --changes-since N as well"
        )
    if args.command in ("once", "start"):
        # the follower's passes start no Spark job (etl/pipeline.py)
        (cmd_once if args.command == "once" else cmd_start)(None, cfg)
        return 0
    spark = get_spark(f"helium-cli-{args.command}")
    try:
        if args.command == "migrate":
            cmd_migrate(spark, cfg)
        elif args.command == "sql":
            cmd_sql(
                spark, cfg, args.execute, at_version=args.at_version,
                changes_since=args.changes_since,
                change_key_cols=(
                    [c.strip() for c in args.key_cols.split(",") if c.strip()]
                    if args.key_cols
                    else None
                ),
            )
        else:
            cmd_compact(spark, cfg)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
