"""Single-transaction atomic commit for data + cursor: a minimal
snapshot-manifest table format, and the format of every persisted table
but the rollup's: the follower's sink, and the batch-id stores (end of
this module) of the streaming consumers and the incremental operators'
states.

The reference gets per-block atomicity from a Postgres transaction that
writes rewards/transactions AND advances follower_info together
(src/follower.rs:100, src/block_processor.rs:44-47). This module gives
the same guarantee the way modern lakehouse formats do (Delta's
_delta_log add-file/remove-file actions, Iceberg's metadata pointer),
scaled down to exactly what the follower needs:

- Data files are APPEND-ONLY fragments under versioned partition
  directories:
      {root}/{table}/v={version}/block_range={r}/part-*.parquet
  A commit writes at most one fragment per (table, block_range) into its
  own version directory. A writer never deletes or rewrites a published
  file, so there is no write-into-own-source hazard and readers of the
  previous snapshot are never torn.

- One manifest JSON per version maps each block_range of each table to
  its fragments in commit order, `[version, block_lo, block_hi, bytes]`
  (the fragment's directory, the block span it holds rows for, and the
  size of its parquet files, recorded when written), AND carries the
  cursor:
      {"version": 7, "height": 1099, "first_block": 1000,
       "tables": {"rewards": {"0": [[3, 0, 999, 91422]],
                              "1": [[5, 1000, 1029, 3310], [7, 1030, 1099, 6507]]},
                  ...}}
  `_snapshots/CURRENT` names the live version and is published with
  `durable_replace` (an fsync'd atomic `os.replace`) — the ONLY
  mutation in the whole commit. Data and cursor therefore become
  visible in the same instant: the reference's BEGIN..COMMIT, as one
  rename. (POSIX/HDFS rename is atomic; on S3 swap the pointer swap for
  a conditional PUT of CURRENT.) A reader therefore needs no cursor
  filter: data ahead of the cursor is not in the manifest.

- A commit decides per fragment of the ranges its claim touches. The
  steady-state tick's claim lies wholly above every fragment, so it
  APPENDS a fragment holding only its own rows: nothing is read back.
  On a replay, a fragment wholly inside a contiguous claim leaves the
  manifest unread (a METADATA-ONLY delete; the files get vacuumed
  later); only fragments that partly overlap the claim are read, and
  their surviving rows merge with the batch into the new fragment.

- The same commit folds: a fragment's size tier is floor(log_K(bytes)),
  and when the K - 1 newest kept fragments of a touched range share a
  tier, they join the carry-over read and merge into the commit's new
  fragment, so CDC sees only the batch. The sizes come from the
  manifest: an append that does not fold stats no earlier fragment.
  `compact` folds every range holding more than one fragment, and is
  the only fold of an entry with no `bytes` (written before sizes were
  recorded).

- One planner, two writers. `_commit` is the claim/fold/manifest
  planner: it decides per fragment what is kept, dropped or read, has a
  writer write the new fragments, and publishes. `commit_arrow` writes
  tables held in driver memory with pyarrow, with no Spark job: the
  follower's pass, which holds at most etl/pipeline.py PASS_LIMIT
  blocks of rows plus, one range at a time, the rows a fold or a
  partial overlap carries over (at most one block range's). The Spark
  writer serves `commit_batch_atomic` (the registry's snapshot-sink
  queries and every batch-id store) and `compact_snapshot`. Both
  writers sort a `transactions` fragment by TRANSACTIONS_ORDER, (type,
  block, hash); the Arrow writer also writes one row group per type, so
  the footer's row-group statistics let a read by type or by hash
  decode only the matching row groups' `fields` payloads.

- Crash anywhere before the CURRENT swap leaves the previous snapshot
  (data + cursor together) fully intact; the half-written v-dir is
  orphaned, invisible, and replaced whole by the replay, which
  recomputes the same version number (Spark's overwrite mode; the Arrow
  writer removes it first). Crash after the swap is a completed commit.

Replay convergence, crash atomicity, append-without-reads and
metadata-deletes are pinned by tests/test_snapshot.py.

Scale posture: the manifest is O(#fragments), read/written driver-side
once per batch — control plane, like Delta's log replay. The fold is
the size-tiered (LSM) policy: no K consecutive fragments of a range
share a tier, so a range whose fragments grow older and larger (ticks,
fold-ins) holds at most K - 1 per size tier, O(K log_K(bytes)) in all,
and a fold costs the size of one tier, never the whole range's. A tick
costs O(new blocks), with a plain partitioned table's layout and
pushdown, and a read lists only the manifest's fragment directories.
Disk: a replay, a fold or a compaction keeps the superseded fragments
for older-snapshot readers until vacuum() drops the versions outside
its keep window (`cli vacuum`).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# Footer key under which Spark's parquet writer stores the exact Spark
# schema of the rows.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: block-range width: the follower's default block_range_size and the
#: range of every batch-id store.
RANGE_SIZE = 1000


def durable_replace(path: str, text: str) -> None:
    """Publish `text` as the whole content of `path` in one atomic,
    durable step: write `path.tmp`, fsync it (the rename must not
    promote an unflushed file), `os.replace` it over `path`, then fsync
    the directory (the rename entry itself is not durable until the
    parent flushes — a power cut could resurrect the old content).
    Readers see the old or the new content, never a torn one; a crash
    before the rename leaves only a stale `.tmp` that the next call
    overwrites."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_path(os.path.dirname(path) or ".")


def _fsync_path(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _fsync_tree(path: str) -> None:
    """fsync every file under `path` plus the directories themselves —
    the data half of a durable CURRENT swap: a manifest made durable
    before its fragments' parquet pages flush would name missing or
    truncated files after a power cut. Spark's parquet writer does not
    fsync. Cost is the size of the tree passed, so publish passes only
    the fragments its version adds."""
    for root, _dirs, files in os.walk(path):
        for name in files:
            _fsync_path(os.path.join(root, name))
        _fsync_path(root)


class ConcurrentSnapshotWriteError(RuntimeError):
    """Two writers raced to publish the same snapshot version with
    different content; the loser must re-read CURRENT and recommit."""


# How long an unreferenced manifest must sit before a replay may
# overwrite it (see SnapshotStore.publish). The orphan-age test trusts
# filesystem mtime: on NFS or object-store gateways mtime can be coarse
# (whole seconds) or clock-skewed, which narrows the protection — there
# the grace must sit WELL above the worst expected skew (minutes, not
# this local-disk 60 s).
ORPHAN_GRACE_SECONDS = 60.0


class SnapshotStore:
    """Manifest bookkeeping: read CURRENT, publish a new version. The
    one module that knows the `_snapshots/` layout (`snap-<version>.json`
    manifests, the `CURRENT` pointer)."""

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, "_snapshots")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.dir, f"snap-{version:012d}.json")

    def current_version(self) -> int | None:
        try:
            with open(os.path.join(self.dir, "CURRENT")) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def current(self) -> dict | None:
        v = self.current_version()
        if v is None:
            return None
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def manifest(self, version: int) -> dict | None:
        """Historical manifest (time travel): versions stay readable
        until `vacuum` drops them — append-only data dirs mean an old
        manifest's file list remains valid verbatim."""
        try:
            with open(self._manifest_path(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def publish(self, manifest: dict) -> None:
        """The commit point. Everything before the final os.replace is
        invisible to readers; the replace itself is atomic. The new
        fragments are fsynced before the manifest is written, so a
        durable CURRENT never names data that a power cut lost.

        Optimistic concurrency: the version file is claimed with an
        atomic hard link (fails if it exists), so two writers that both
        computed version N cannot silently overwrite each other. On a
        claim conflict the CONTENT is compared first (r6 ADVICE: the
        former CURRENT-ordering check had a TOCTOU — writer A links N,
        B reads CURRENT before A swaps it, B sees an "orphan" and
        clobbers A's live manifest):

        - identical content -> idempotent crash-replay of the same
          commit (content is a deterministic function of the batch);
          pass through and (re)write CURRENT. Safe regardless of where
          CURRENT points.
        - different content, CURRENT already at/past N -> a visible
          version conflict; raise ConcurrentSnapshotWriteError.
        - different content, CURRENT behind N -> EITHER our own
          crash-replay after the tip advanced (true orphan, never
          reader-visible) OR a live writer mid-commit-window. The two
          are indistinguishable at a point in time, so the overwrite is
          gated on ORPHAN_GRACE_SECONDS: a manifest older than the
          grace whose CURRENT never arrived is a proven orphan (a live
          writer swaps CURRENT within its commit window); a younger one
          raises ConcurrentSnapshotWriteError and the caller retries —
          by then the real writer has either swapped CURRENT (case 2)
          or crashed (the orphan ages out). Single-logical-writer
          deployments (the follower) only ever hit the orphan path on
          restart-after-crash, where the manifest is minutes old."""
        os.makedirs(self.dir, exist_ok=True)
        version = manifest["version"]
        self._fsync_fragments(manifest)
        mpath = self._manifest_path(version)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, mpath)  # atomic claim of version N
            os.unlink(tmp)
        except FileExistsError:
            with open(mpath) as f:
                existing = json.load(f)
            if existing == json.loads(json.dumps(manifest)):
                # identical replay of the same commit: idempotent, fall
                # through and (re)write CURRENT
                os.unlink(tmp)
            else:
                cur = self.current_version()
                age = time.time() - os.path.getmtime(mpath)
                if (cur is None or cur < version) and age >= ORPHAN_GRACE_SECONDS:
                    # proven orphan: linked >= grace ago and CURRENT
                    # never reached it — no reader ever saw it; the
                    # replay may carry different content (tip advanced
                    # before the retry), overwrite it.
                    os.replace(tmp, mpath)
                else:
                    os.unlink(tmp)
                    raise ConcurrentSnapshotWriteError(
                        f"snapshot version {version} is already claimed "
                        "with different content "
                        + (
                            "(CURRENT has reached it — another writer "
                            "won the race; re-read CURRENT and recommit "
                            "on top of it)"
                            if cur is not None and cur >= version
                            else "(claim is younger than "
                            f"{ORPHAN_GRACE_SECONDS}s — possibly a "
                            "live writer mid-commit; retry after the "
                            "grace period)"
                        )
                    )
        cur = self.current_version()
        if cur is not None and cur >= version:
            # An identical replay of an already-visible (possibly OLD)
            # version must not move CURRENT backwards: a crash-recovery
            # republishing manifest N after the store advanced to N+1
            # would otherwise hide the newer commit — and poison the
            # next writer, whose freshly computed version N+1 would
            # collide with the real N+1 manifest (review find). The
            # commit is already visible; nothing left to do.
            return
        # the transaction commits here
        durable_replace(os.path.join(self.dir, "CURRENT"), str(version))

    def _fsync_fragments(self, manifest: dict) -> None:
        """Make the fragments `manifest` adds durable before the manifest
        names them: fsync each fragment directory of the manifest's own
        version (its files and itself), then the directories holding
        their entries — `<table>/v=<version>/`, `<table>/` and the root
        (a new table's entry, and `_snapshots/`'s)."""
        version = manifest["version"]
        for table, parts in manifest["tables"].items():
            # a manifest from before fragment commits (which every reader
            # refuses) maps a range to an int and names no fragment
            new = [
                int(r) for r, frags in parts.items()
                if isinstance(frags, list) and any(f[0] == version for f in frags)
            ]
            for r in new:
                _fsync_tree(fragment_dir(self.root, table, r, version))
            if new:
                _fsync_path(os.path.join(self.root, table, f"v={version}"))
                _fsync_path(os.path.join(self.root, table))
        _fsync_path(self.root)

    def vacuum(self, keep_versions: int = 2) -> list[str]:
        """Delete the version directories no fragment of a manifest in the
        keep-window references. Safe once no reader holds a snapshot older than the
        window (same contract as Delta VACUUM). Returns removed paths.
        The window always holds CURRENT: keep_versions < 1 raises."""
        if keep_versions < 1:
            raise ValueError(f"keep_versions must be at least 1, got {keep_versions}")
        cur = self.current_version()
        if cur is None:
            return []
        keep = set()
        kept_manifests = []
        for v in range(max(1, cur - keep_versions + 1), cur + 1):
            try:
                with open(self._manifest_path(v)) as f:
                    m = json.load(f)
            except FileNotFoundError:
                continue
            require_fragments(m, self.root)
            kept_manifests.append(v)
            for table, parts in m["tables"].items():
                for frags in parts.values():
                    keep.update((table, frag[0]) for frag in frags)
        removed = []
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if table.startswith("_") or not os.path.isdir(tdir):
                continue
            for vdir in os.listdir(tdir):
                if not vdir.startswith("v="):
                    continue
                v = int(vdir[2:])
                if (table, v) not in keep and v < cur:
                    path = os.path.join(tdir, vdir)
                    shutil.rmtree(path)
                    removed.append(path)
        for f_ in os.listdir(self.dir):
            if f_.startswith("snap-") and f_.endswith(".json"):
                v = int(f_[5:-5])
                if kept_manifests and v < min(kept_manifests):
                    os.remove(os.path.join(self.dir, f_))
        return removed


def require_fragments(manifest: dict, root: str) -> None:
    """Raise when `manifest` maps a block_range to one owning version
    instead of a fragment list: a store written before fragment commits.
    Its layout is no longer read; there is no converter."""
    for parts in manifest["tables"].values():
        if any(not isinstance(frags, list) for frags in parts.values()):
            raise RuntimeError(
                f"{root} holds a snapshot store whose manifest maps each "
                "block_range to one version (the layout before fragment "
                "commits); this layout is no longer read. Follow into a "
                "new out_dir with backfill = true."
            )


# Directory prefixes of the layouts from before snapshot stores:
# plain-parquet follower tables (`<table>/block_range=*`), the
# hash-sharded operator set states (`shard=*`) and the batch-partitioned
# count states (`batch=*`).
_OLD_LAYOUTS = ("block_range=", "shard=", "batch=")


def refuse_old_layout(root: str) -> None:
    """Raise when `root` holds data in a layout from before snapshot
    stores but no snapshot manifest. Read as a snapshot store it would
    be empty: a dedup probe would pass every document of the next batch
    as new, and a follower without backfill would skip every landed
    block. There is no converter."""
    if not os.path.isdir(root) or SnapshotStore(root).current_version() is not None:
        return
    dirs = [root] + [
        os.path.join(root, d) for d in sorted(os.listdir(root))
        if not d.startswith(("_", ".")) and os.path.isdir(os.path.join(root, d))
    ]
    for d in dirs:
        old = [e for e in sorted(os.listdir(d)) if e.startswith(_OLD_LAYOUTS)]
        if old:
            raise RuntimeError(
                f"{root} holds data in a layout that is no longer read "
                f"({os.path.relpath(os.path.join(d, old[0]), root)}) but no "
                "snapshot manifest (_snapshots/CURRENT). Rebuild it in a new "
                "directory (a follower store: follow into a new out_dir "
                "with backfill = true)."
            )


def fragments(manifest: dict, table: str) -> list[tuple[int, list[int]]]:
    """(block_range, [version, block_lo, block_hi, bytes]) for every
    fragment of `table` in `manifest`."""
    return [
        (int(r), frag)
        for r, frags in manifest["tables"].get(table, {}).items()
        for frag in frags
    ]


def fragment_dir(root: str, table: str, r: int, version: int) -> str:
    return os.path.join(root, table, f"v={version}", f"block_range={r}")


def _footer(path: str) -> pa.Schema:
    leaf = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
    return pq.read_schema(os.path.join(path, leaf))


def _read_fragments(
    spark: SparkSession, root: str, table: str, frags: list[tuple[int, int]]
) -> DataFrame | None:
    """One read of the listed (block_range, version) fragment dirs, with
    the table dir as basePath: block_range is recovered as a column from
    the directory names and the `v` directory key is dropped. The Spark
    schema stored in one fragment's parquet footer is handed to the
    reader, which then runs no schema-inference job. A table with its
    own column named `v` would have it overwritten by the directory
    key, so such a table is read one version at a time instead."""
    if not frags:
        return None
    frags = sorted(set(frags))
    footer = _footer(fragment_dir(root, table, *frags[0]))
    stored = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)

    def reader(base: str):
        r = spark.read.option("basePath", base)
        return r if stored is None else r.schema(StructType.fromJson(json.loads(stored)))

    if "v" not in (n.lower() for n in footer.names):
        paths = [fragment_dir(root, table, r, v) for r, v in frags]
        return reader(os.path.join(root, table)).parquet(*paths).drop("v")
    by_version: dict[int, list[str]] = {}
    for r, v in frags:
        by_version.setdefault(v, []).append(fragment_dir(root, table, r, v))
    return reduce(
        DataFrame.unionByName,
        (
            reader(os.path.join(root, table, f"v={v}")).parquet(*paths)
            for v, paths in sorted(by_version.items())
        ),
    )


def read_snapshot(
    spark: SparkSession, root: str, table: str, version: int | None = None
) -> DataFrame | None:
    """The committed-read view: exactly the given manifest's fragments
    (CURRENT when version is None — pass an older version for time
    travel; append-only storage keeps its file list valid until
    vacuum), in one read. Returns None when no snapshot (or no such
    table) exists. There is nothing to filter by cursor — data ahead of
    the cursor is not in the manifest, so it does not exist for
    readers."""
    store = SnapshotStore(root)
    manifest = store.current() if version is None else store.manifest(version)
    if manifest is None:
        if version is None:
            refuse_old_layout(root)
        return None
    require_fragments(manifest, root)
    return _read_fragments(
        spark, root, table, [(r, f[0]) for r, f in fragments(manifest, table)]
    )


def read_changes(
    spark: SparkSession,
    root: str,
    table: str,
    v_from: int,
    v_to: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame | None:
    """Version-diff (CDC) read: the rows that changed between snapshot
    `v_from` and `v_to` (CURRENT when None), tagged with a
    `_change_type` column ('insert' | 'delete') — the readChangeFeed
    pattern, and the incremental twin of `read_snapshot(version=)`:
    a downstream consumer of the follower tables polls this instead of
    re-scanning the whole committed view (r6 verdict "what's missing"
    item 1). An updated row appears as a delete of the old image plus
    an insert of the new one.

    KEYED feeds (r9 verdict item 5, the Delta CDF update contract):
    pass `key_cols` for a sink whose rows are uniquely keyed and the
    raw delete+insert pair of an updated key is re-tagged as
    'update_preimage' (old image) / 'update_postimage' (new image) —
    what an SCD/merge consumer needs to distinguish a changed row from
    an unrelated delete+insert. Pairing is one semi/anti-join set on
    the (already O(churn)-bounded) diff keyed by `key_cols`; rows whose
    key appears on only one side keep their plain insert/delete tags.

    Metadata-first: the two manifests' fragment lists identify exactly
    which fragments were removed (in v_from only) and added (in v_to
    only) — UNCHANGED fragments are never read, so the IO is
    O(churned fragments), not O(table). A steady-state append adds one
    fragment and removes none: its rows are the inserts, with no diff.
    Only when both sides are non-empty (a replay or a compaction) are
    they diffed with exceptAll in both directions (multiset semantics:
    duplicate rows count), so a rewritten row that did not change
    cancels out. At 100 TB a steady-state follower adds a handful of
    fragments per commit, so the feed reads a few directories
    regardless of table size.

    `v_from=0` is the empty store before the first commit: the feed is
    the whole of `v_to` as inserts (a new consumer's bootstrap).

    Returns None when the table exists in neither manifest; an empty
    (schema-stable) DataFrame when nothing changed. Raises on missing
    manifests or v_from > v_to.
    """
    store = SnapshotStore(root)
    if v_to is None:
        v_to = store.current_version()
        if v_to is None:
            raise ValueError(f"no snapshot store at {root}")
    m_from = store.manifest(v_from) if v_from else {"tables": {}}
    m_to = store.manifest(v_to)
    if m_from is None or m_to is None:
        missing = v_from if m_from is None else v_to
        raise ValueError(
            f"no snapshot version {missing} at {root} (vacuumed or never "
            "committed) — changes need both endpoint manifests"
        )
    if v_from > v_to:
        raise ValueError(f"v_from={v_from} is newer than v_to={v_to}")
    require_fragments(m_from, root)
    require_fragments(m_to, root)
    frags_from = {(r, tuple(f)) for r, f in fragments(m_from, table)}
    frags_to = {(r, tuple(f)) for r, f in fragments(m_to, table)}
    if not frags_from and not frags_to:
        return None
    side_from = _read_fragments(
        spark, root, table, [(r, f[0]) for r, f in frags_from - frags_to]
    )
    side_to = _read_fragments(
        spark, root, table, [(r, f[0]) for r, f in frags_to - frags_from]
    )
    if side_from is None and side_to is None:
        # nothing churned: empty result with the table's schema
        base = read_snapshot(spark, root, table, version=v_to) or read_snapshot(
            spark, root, table, version=v_from
        )
        return base.limit(0).withColumn("_change_type", F.lit("insert"))
    if side_from is None or side_to is None:
        # one-sided: an append (inserts only) or a metadata delete
        side, tag = (side_to, "insert") if side_from is None else (side_from, "delete")
        plain = side.select(sorted(side.columns)).withColumn("_change_type", F.lit(tag))
    else:
        if sorted(side_from.columns) != sorted(side_to.columns):
            # a silent one-sided projection here would drop an evolved
            # column from the feed (review find) — schema change between
            # the endpoints needs an explicit migration read, so fail loud
            raise ValueError(
                f"read_changes: schema changed between v{v_from} "
                f"({sorted(side_from.columns)}) and v{v_to} "
                f"({sorted(side_to.columns)}); diff the versions separately "
                "across the migration boundary"
            )
        side_from = side_from.select(sorted(side_from.columns))
        side_to = side_to.select(sorted(side_to.columns))
        inserts = side_to.exceptAll(side_from)
        deletes = side_from.exceptAll(side_to)
        plain = inserts.withColumn("_change_type", F.lit("insert")).unionByName(
            deletes.withColumn("_change_type", F.lit("delete"))
        )
    if key_cols is None:
        return plain
    # r15 (guide §5 cache-when-reused, §7.2): pair_updates references
    # the feed from four branches and derives its update-key intersect
    # from it again per branch — Catalyst performs no cross-branch CSE,
    # so the churned-fragment exceptAll diff (itself two reads per
    # side) was re-planned per branch: the keyed feed's physical plan
    # carried 48 parquet scans of the churned dirs (measured,
    # plans/r15). The diff is O(churn)-bounded by
    # construction; one LAZY localCheckpoint makes every branch read
    # the same materialized blocks (computed once inside the caller's
    # terminal action).
    return pair_updates(plain.localCheckpoint(eager=False), key_cols)


def pair_updates(feed: DataFrame, key_cols: list[str]) -> DataFrame:
    """Upgrade a plain insert/delete change feed to the KEYED feed: a
    key present on BOTH sides changed in place — tag its old image
    'update_preimage' and its new one 'update_postimage'; one-sided
    keys keep their plain tags. Shared by read_changes(key_cols=) and
    serving.register_views(change_key_cols=), which re-tags an
    already-built diff instead of rebuilding it (review find).

    The key sets are the O(churn) feed's keys — bounded, so the
    semi/anti joins ride the same small exchange. Joins are NULL-SAFE
    (eqNullSafe) to match intersect's null semantics — a NULL-keyed
    in-place change must pair like any other key, not fall through as
    insert+delete (review find). The renamed key projection breaks the
    attribute-id tie with `inserts` (intersect reuses the left child's
    ids): joining the key set un-renamed back against inserts resolves
    both sides of the condition to the SAME attribute — a
    trivially-true predicate that would tag every insert a postimage
    (review find)."""
    missing_keys = [k for k in key_cols if k not in feed.columns]
    if missing_keys:
        raise ValueError(
            f"pair_updates: key_cols {missing_keys} not in feed columns "
            f"{sorted(feed.columns)}"
        )
    cols = [c for c in feed.columns if c != "_change_type"]
    inserts = feed.where(F.col("_change_type") == "insert").select(*cols)
    deletes = feed.where(F.col("_change_type") == "delete").select(*cols)
    upd_keys = (
        inserts.select(*key_cols)
        .intersect(deletes.select(*key_cols))
        .select([F.col(k).alias(f"__uk_{k}") for k in key_cols])
        # lazy checkpoint (r15): referenced by all four semi/anti joins
        # below — one intersect instead of four (O(churn) rows)
        .localCheckpoint(eager=False)
    )

    def _keyed(side: DataFrame, how: str, tag: str) -> DataFrame:
        cond = None
        for k in key_cols:
            c = side[k].eqNullSafe(F.col(f"__uk_{k}"))
            cond = c if cond is None else (cond & c)
        return side.join(upd_keys, cond, how).withColumn(
            "_change_type", F.lit(tag)
        )

    pre = _keyed(deletes, "left_semi", "update_preimage")
    post = _keyed(inserts, "left_semi", "update_postimage")
    pure_ins = _keyed(inserts, "left_anti", "insert")
    pure_del = _keyed(deletes, "left_anti", "delete")
    return pure_ins.unionByName(pure_del).unionByName(pre).unionByName(post)


#: the fold's base: a fragment's size tier is floor(log_K(bytes)).
K = 4


def _tier(nbytes: int) -> int:
    tier = 0
    while nbytes >= K:
        nbytes //= K
        tier += 1
    return tier


def _fold_tail(frags: list[list[int]]) -> list[list[int]]:
    """The newest K - 1 of a range's `frags` when they all have a size and
    share its tier, else []."""
    tail = frags[-(K - 1):]
    if len(tail) < K - 1 or any(len(f) < 4 for f in tail):
        return []
    return tail if len({_tier(f[3]) for f in tail}) == 1 else []


def _write_fragments(
    root: str, table: str, version: int, df: DataFrame, spans: dict, parts: dict
) -> None:
    """The Spark writer of fragments, for a commit and a compaction
    alike: write `df` (with its `block_range` column) as `table`'s
    fragments of `version`, one file per range, and enter each range
    the write produced in `parts` (see _enter)."""
    # One range: one file with no shuffle. Several: one file set per
    # range.
    out = df.coalesce(1) if len(spans) == 1 else df.repartition("block_range")
    if _clustered(table, df.columns):
        # block_range first: the partitioned write's own required order
        out = out.sortWithinPartitions("block_range", *TRANSACTIONS_ORDER)
    vdir = os.path.join(root, table, f"v={version}")
    # overwrite: a replay after a crash-before-publish recomputes the same
    # version number and rewrites its orphan directory.
    out.write.mode("overwrite").partitionBy("block_range").parquet(vdir)
    # Which ranges did the write actually produce? Directory names are
    # authoritative (and an empty batch yields none).
    for d in os.listdir(vdir):
        if d.startswith("block_range="):
            _enter(root, table, version, int(d[len("block_range="):]), spans, parts)


def _enter(root: str, table: str, version: int, r: int, spans: dict, parts: dict) -> None:
    """Enter the fragment of range `r` that `version` wrote in `parts`
    as [version, block_lo, block_hi, bytes], its span from `spans`."""
    files = os.scandir(fragment_dir(root, table, r, version))
    nbytes = sum(f.stat().st_size for f in files if f.name.endswith(".parquet"))
    parts.setdefault(str(r), []).append([version, *spans[r], nbytes])


#: The order of the rows in a `transactions` fragment, both writers'.
TRANSACTIONS_ORDER = ("type", "block", "hash")


def _clustered(table: str, columns: list[str]) -> bool:
    """True for the follower's `transactions` table: the store takes any
    table, and one of that name need not hold the order's columns."""
    return table == "transactions" and set(TRANSACTIONS_ORDER) <= set(columns)


def _write_arrow_fragment(root: str, table: str, version: int, r: int, rows: pa.Table) -> None:
    """Write `rows` as `table`'s fragment of range `r` in `version`: one
    file, whose footer carries the Spark schema, as a Spark-written one
    does, so a Spark read infers nothing. A `transactions` fragment is
    sorted by TRANSACTIONS_ORDER with one row group per type."""
    schema = rows.schema.with_metadata({_SPARK_SCHEMA_KEY: from_arrow_schema(rows.schema).json()})
    d = fragment_dir(root, table, r, version)
    os.makedirs(d)
    with pq.ParquetWriter(os.path.join(d, "part-00000.parquet"), schema) as w:
        if not _clustered(table, rows.column_names):
            w.write_table(rows)
            return
        rows = rows.sort_by([(c, "ascending") for c in TRANSACTIONS_ORDER])
        types = rows["type"].combine_chunks()
        changes = pc.indices_nonzero(pc.not_equal(types[1:], types[:-1])).to_pylist()
        starts = [0] + [i + 1 for i in changes]
        for a, b in zip(starts, starts[1:] + [len(types)]):
            w.write_table(rows.slice(a, b - a), row_group_size=b - a)


def _commit(root: str, height: int, first_block: int, spans: dict, contiguous: bool,
            tables: list[str], write) -> dict:
    """The one claim/fold/manifest planner of both writers. Per table and
    per range of `spans` (range -> claimed span), decide which current
    fragments are kept, dropped unread or read (see commit_batch_atomic),
    call `write(table, version, to_read, merged_spans, parts)` to write
    and enter the new fragments, and publish the manifest. `contiguous`:
    the claim is the whole span [lo, hi] of each range, so a fragment
    inside it is dropped unread."""
    store = SnapshotStore(root)
    cur = store.current()
    if cur is not None:
        require_fragments(cur, root)
    else:
        refuse_old_layout(root)
    version = (cur["version"] + 1) if cur else 1
    cur_tables: dict[str, dict] = dict(cur["tables"]) if cur else {}
    new_tables: dict[str, dict] = dict(cur_tables)
    for table in tables:
        parts = {r: list(frags) for r, frags in cur_tables.get(table, {}).items()}
        merged_spans: dict[int, tuple[int, int]] = {}
        to_read: list[tuple[int, int]] = []
        for r, (c_lo, c_hi) in spans.items():
            kept = []
            span = (c_lo, c_hi)
            for frag in parts.get(str(r), []):
                f_lo, f_hi = frag[1], frag[2]
                if f_hi < c_lo or f_lo > c_hi:
                    kept.append(frag)
                elif not contiguous or f_lo < c_lo or f_hi > c_hi:
                    to_read.append((r, frag[0]))
                    span = (min(span[0], f_lo), max(span[1], f_hi))
            # The fold: a folded fragment's span misses the claim, so the
            # carry-over keeps all of its rows.
            tail = _fold_tail(kept)
            for frag in tail:
                to_read.append((r, frag[0]))
                span = (min(span[0], frag[1]), max(span[1], frag[2]))
            parts[str(r)] = kept[: len(kept) - len(tail)]
            merged_spans[r] = span
        write(table, version, to_read, merged_spans, parts)
        new_tables[table] = {r: frags for r, frags in parts.items() if frags}

    manifest = {
        "version": version,
        "height": int(height),
        "first_block": int(first_block),
        "tables": new_tables,
    }
    store.publish(manifest)
    return manifest


def _clip_spans(lo: int, hi: int, range_size: int, ranges) -> dict[int, tuple[int, int]]:
    return {r: (max(lo, r * range_size), min(hi, (r + 1) * range_size - 1)) for r in ranges}


def commit_batch_atomic(
    spark: SparkSession,
    root: str,
    tables: dict[str, DataFrame],
    lo: int,
    hi: int,
    height: int,
    first_block: int,
    range_size: int = RANGE_SIZE,
    heights: DataFrame | None = None,
    touched_ranges: set[int] | None = None,
) -> dict:
    """Land a batch into every output table AND advance the cursor as
    ONE atomic commit. Claim semantics match
    write_block_range_idempotent: heights=None claims the whole span
    [lo, hi]; heights=<df> claims exactly that block set (which must lie
    inside [lo, hi]).

    Per touched block_range the claim covers a span: [lo, hi] clipped to
    the range, or for a height set the range's lowest to highest claimed
    height. Each fragment of the range is then
    - kept as it is when its span misses the claim span (the append
      case: nothing is read);
    - dropped unread when it lies wholly inside a contiguous claim;
    - otherwise read, and its rows the claim does not cover merged with
      the batch into the new fragment, whose span covers both.
    Then the fold: when the K - 1 newest kept fragments share a size
    tier, they are read too and merged whole into the new fragment.

    ``touched_ranges`` (r15, guide §1.2): when the caller already
    knows the claimed block-range set — it MUST equal the distinct
    ``floor(block / range_size)`` of ``heights`` — passing it skips
    the collect job this function otherwise runs to derive it; the
    claim spans are then [lo, hi] clipped to each range.

    The Spark writer; commit_arrow is the Arrow one, under the same
    planner. Returns the published manifest."""
    claimed = None
    if heights is None:
        spans = _clip_spans(lo, hi, range_size, range(lo // range_size, hi // range_size + 1))
    else:
        claimed = heights.select(
            F.col(heights.columns[0]).cast("long").alias("__claimed_block")
        ).distinct()
        if touched_ranges is None:
            spans = {
                int(row["__r"]): (int(row["__lo"]), int(row["__hi"]))
                for row in claimed.groupBy(
                    F.floor(F.col("__claimed_block") / F.lit(range_size))
                    .cast("long")
                    .alias("__r")
                )
                .agg(
                    F.min("__claimed_block").alias("__lo"),
                    F.max("__claimed_block").alias("__hi"),
                )
                .collect()
            }
        else:
            spans = _clip_spans(lo, hi, range_size, touched_ranges)

    def write(table, version, to_read, merged_spans, parts):
        new = tables[table].withColumn(
            "block_range", F.floor(F.col("block") / F.lit(range_size)).cast("long")
        )
        # Carry-over: rows of the partly overlapped and the folded
        # fragments that the batch does NOT claim. Read straight from
        # their version dirs — append-only storage means this never
        # races the write below.
        old = _read_fragments(spark, root, table, to_read)
        if old is not None:
            if claimed is None:
                survivors = old.where(~F.col("block").between(lo, hi))
            else:
                survivors = old.join(
                    F.broadcast(claimed),
                    F.col("block") == F.col("__claimed_block"),
                    "left_anti",
                )
            new = new.unionByName(survivors.select(*new.columns))
        _write_fragments(root, table, version, new, merged_spans, parts)

    return _commit(root, height, first_block, spans, claimed is None, list(tables), write)


def commit_arrow(
    root: str,
    tables: dict[str, pa.Table],
    lo: int,
    hi: int,
    height: int,
    first_block: int,
    range_size: int,
) -> dict:
    """commit_batch_atomic's contiguous claim of [lo, hi] for tables
    held in driver memory, written with pyarrow: no Spark job. The same
    planner decides what is kept, dropped and folded; the carry-over is
    read with pyarrow from the fragments' files, one range at a time, so
    the commit holds at most one range's carried-over rows beside
    `tables`. Returns the published manifest."""

    def write(table, version, to_read, merged_spans, parts):
        # A crashed attempt's orphan directory: a leftover file of it
        # would be read as duplicate rows (Spark's overwrite mode
        # replaces it too).
        shutil.rmtree(os.path.join(root, table, f"v={version}"), ignore_errors=True)
        new = tables[table]
        ranges = pc.floor(pc.divide(new["block"].cast(pa.float64()), range_size))
        for r in merged_spans:
            rows = new.filter(pc.equal(ranges, r))
            files = [
                os.path.join(d, f)
                for v in sorted({v for r_, v in to_read if r_ == r})
                for d in [fragment_dir(root, table, r, v)]
                for f in sorted(os.listdir(d)) if f.endswith(".parquet")
            ]
            if files:
                old = pa.concat_tables([pq.read_table(f) for f in files], promote_options="permissive")
                old = old.filter((pc.field("block") < lo) | (pc.field("block") > hi))
                rows = pa.concat_tables([old.select(new.column_names).cast(new.schema), rows])
            if rows.num_rows:
                _write_arrow_fragment(root, table, version, r, rows)
                _enter(root, table, version, r, merged_spans, parts)

    spans = _clip_spans(lo, hi, range_size, range(lo // range_size, hi // range_size + 1))
    return _commit(root, height, first_block, spans, True, list(tables), write)


def compact_snapshot(spark: SparkSession, root: str) -> dict | None:
    """`cli compact`: the commit's fold applied to every block range
    holding more than one fragment, whatever their sizes, published as a
    new version with the cursor unchanged. Only fragments CURRENT names
    are read, so a crashed writer's orphan directory never joins the
    corpus. Single writer, as vacuum. Returns the published manifest, or
    None when no range holds more than one fragment."""
    store = SnapshotStore(root)
    m = store.current()
    if m is None:
        return None
    require_fragments(m, root)
    version = m["version"] + 1
    tables = {t: dict(parts) for t, parts in m["tables"].items()}
    for table, parts in tables.items():
        merge = {int(r): parts.pop(r) for r, frags in m["tables"][table].items() if len(frags) > 1}
        if merge:
            frags = [(r, f[0]) for r, fs in merge.items() for f in fs]
            spans = {r: (min(f[1] for f in fs), max(f[2] for f in fs)) for r, fs in merge.items()}
            df = _read_fragments(spark, root, table, frags)
            _write_fragments(root, table, version, df, spans, parts)
    if tables == m["tables"]:
        return None
    manifest = {**m, "version": version, "tables": tables}
    store.publish(manifest)
    return manifest


# ---------------------------------------------------------------------------
# Batch-id stores: the store of every streaming consumer and every
# incremental operator state. The manifest's cursor (`height`) holds the
# last applied batch id, so the data and the batch id publish in one
# rename, and a batch id at or below the cursor is a replay.

#: the table an incremental operator keeps its state rows in.
STATE = "state"

#: file, beside the manifest, naming the algorithm a state's rows were
#: built with (see check_construction).
CONSTRUCTION = "_construction"


def is_applied(store_dir: str, batch_id: int) -> bool:
    """True when `batch_id` is at or below the store's cursor: a replay."""
    m = SnapshotStore(store_dir).current()
    return m is not None and m["height"] >= batch_id


def commit_batch(
    spark: SparkSession,
    store_dir: str,
    tables: dict[str, DataFrame],
    batch_id: int,
    lo: int,
    hi: int,
    heights: DataFrame | None = None,
) -> None:
    """Publish `tables` and `batch_id` as the store's cursor in one
    snapshot version (claim arguments as commit_batch_atomic's, whose
    fold bounds each range's fragments), then vacuum the fragments the
    two newest versions do not name. The manifest's first_block carries
    nothing for these stores (0)."""
    commit_batch_atomic(
        spark, store_dir, tables, lo, hi, height=batch_id, first_block=0,
        heights=heights,
    )
    SnapshotStore(store_dir).vacuum(keep_versions=2)


def commit_state(
    spark: SparkSession, state_path: str, rows: DataFrame, batch_id: int
) -> None:
    """Fold one batch's rows into the operator state at `state_path`:
    one fragment of table STATE holding the rows, with the batch id in
    `block`, published with the batch id as the cursor. A replayed batch
    id is skipped, so the state holds exactly the rows of one fold."""
    if is_applied(state_path, batch_id):
        return
    block = F.lit(int(batch_id)).cast("long")
    commit_batch(
        spark, state_path, {STATE: rows.withColumn("block", block)},
        batch_id, batch_id, batch_id,
    )


def check_construction(state_path: str, version: str, stamp: bool) -> None:
    """Guard a state whose rows are pure functions of their input only
    under one algorithm (MinHash signatures, hyperplane-LSH buckets): a
    state built under another would silently match no probe. Raise when
    the CONSTRUCTION marker names another `version`, or when the store
    holds data but no marker (its construction is unknown). With
    `stamp`, a store with neither gets the marker, written through
    durable_replace; a crash before the first fold-in commits leaves a
    marker-only directory, which reads as the empty state."""
    path = os.path.join(state_path, CONSTRUCTION)
    try:
        with open(path) as f:
            found = f.read().strip()
    except FileNotFoundError:
        if SnapshotStore(state_path).current_version() is not None:
            raise ValueError(
                f"the state at {state_path} holds data but no construction "
                "marker, so its construction is unknown: rebuild the state"
            ) from None
        if stamp:
            os.makedirs(state_path, exist_ok=True)
            durable_replace(path, version)
        return
    if found != version:
        raise ValueError(
            f"the state at {state_path} was built under {found!r}, this "
            f"build uses {version!r}: rebuild the state"
        )
