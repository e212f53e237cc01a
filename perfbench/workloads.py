"""The benchmark's workloads, both closed-loop with one client.

`follow`: set-up lands a lagging range of BULK_EPOCHS epochs and loads
it into an empty store with one cold `cmd_once` (the bulk path), then
runs WARMUP_TICKS untimed ticks. Each measured tick lands one epoch of
new block and txn files, runs `cmd_once` (the `start` loop's tick
without its sleep), re-registers the serving views and runs
READS_PER_KIND reads of each of the four serving helpers, with keys
from the new slice and from recency-skewed older blocks and
transactions. Fixed per-commit cost and the read path dominate; the
transforms see one epoch.

`analytics`: passes over seventeen registry queries that each have a
DuckDB oracle, nine relational and eight LLM-pipeline ones, in an order
the seed permutes. No ingest: this is the control on which an ingest
change must not move, and it catches session-wide settings that help
tiny commits but hurt large joins.

Both use the CLI's default sink (plain, not `atomic`) in `full` mode.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import chain
import spans
import tpch

BULK_EPOCHS = 10        # lagging range of follow's cold bulk load, in epochs
WARMUP_TICKS = 1        # untimed follow ticks after the bulk load (JIT warm-up)
WARMUP_PASSES = 1       # untimed analytics passes before measuring (JIT warm-up)
FIRST_TOUCH_REPEATS = 3  # analytics first-touch reads; setup_s counts their median
READS_PER_KIND = 5      # follow reads per serving helper per tick
TOPK = (10, 20, 50, 100, 200)  # gateway_topk sizes, one read each per tick
TYPE_READS = (          # tx_by_type reads per tick: (type, extracted JSON path)
    *((t, "$.gateway") for t in chain.RARE_TYPES),
    ("poc_receipts_v1", "$.challenger"),
    ("payment_v2", "$.payer"),
)
RECENCY_ZIPF = 1.3      # skew of older keys toward the most recent ones
# Reported tail percentile: a run makes at least three ticks of 20 reads
# (follow) or three passes of 17 queries (analytics), so at least ten
# samples lie beyond it.
TAIL_PCT = 80
ANALYTICS_SF = 0.005
# Seventeen queries, an odd count, so that the pooled p50 and p80 fall
# inside one query's share of the samples rather than on a boundary
# between two.
RELATIONAL = (
    "join_multiway_star", "report_pricing_summary", "win_row_number_topk_per_group", "agg_groupby_hash",
    "join_broadcast_dim", "filter_equality", "sort_multi_key", "filter_in_set", "limit_topk",
)
CURATION = (
    "vec_knn_cosine", "text_bm25_topk", "url_dedup_canonical", "url_canonicalize",
    "text_dedup_exact", "text_ngram_topk", "text_token_count_regex", "url_blocklist_filter",
)
TRACED_SPANS = (
    "op", "program.cmd_once", "follower.init_cursor", "sink.write",
    "follower.cursor_write", "serving.register_views", "serving.read", "registry.query",
)
READ_KINDS = ("block_range", "gateway_topk", "tx_by_hash", "tx_by_type")

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("read_p50_s", "s"),
    (f"read_p{TAIL_PCT}_s", "s"),
)
# Computed on every run (and printed on stderr), reported with --trace 1.
UNTRACED_LAYER = (
    ("peak_rss_mb", "MB"),
    ("commit_p50_s", "s"),
    ("ingest_blocks_per_s", "blocks/s"),
    ("store_bytes_per_row", "B/row"),
    ("relational_pass_s", "s"),
    ("curation_pass_s", "s"),
)
PER_LAYER = (
    *UNTRACED_LAYER,
    ("transforms.busy_s_per_kblock", "s"),
    ("transforms.rewards_rows_out", "count"),
    ("transforms.explode_ratio", "ratio"),
    ("sink.write_s", "s"),
    ("sink.useful_write_ratio", "ratio"),
    ("sink.files_written", "count"),
    ("follower.init_cursor_s", "s"),
    ("follower.cursor_write_s", "s"),
    ("spark.jobs_per_commit", "count"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("source.list_s", "s"),
    ("store.files", "count"),
    ("serving.register_views_s", "s"),
    *((f"serving.{k}_s", "s") for k in READ_KINDS),
    ("serving.files_per_lookup", "count"),
    ("serving.jobs_per_read", "count"),
    *((f"queries.{q}_s", "s") for q in RELATIONAL),
    *((f"operators.{q}_s", "s") for q in CURATION),
    ("session.start_s", "s"),
    ("jvm.gc_s", "s"),
    ("jvm.heap_peak_mb", "MB"),
    ("trace.overhead_s", "s"),
    *((f"self.{n.replace('.', '_')}_s", "s") for n in TRACED_SPANS),
)


class Run:
    """State of one benchmark run: the clock, operation counts and the
    metrics collected so far."""

    def __init__(self, root: str, work: str, workload: str, seed: int, seconds: float, trace: bool, t0: float):
        self.root, self.work, self.workload, self.seed = root, work, workload, seed
        self.seconds, self.trace, self.t0 = seconds, trace, t0
        self.excluded = 0.0      # input generation and output checks stay out of setup_s
        self.attempted = self.failed = 0
        self.ops: list[float] = []
        self.op_traced: list[bool] = []
        self.reads: list[float] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.spark = self.tracer = self.jvm = None
        self.log = logging.getLogger("perfbench")

    @contextlib.contextmanager
    def excluded_time(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t

    def repeated_setup(self, times: list[float]) -> None:
        """A set-up step ran len(times) times; count it once, at its median."""
        self.excluded += sum(times) - spans.median(times)

    def start_session(self):
        from helium_etl_lite_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        self.layer["session.start_s"] = time.perf_counter() - t
        self.tracer = spans.Tracer(self.spark)
        self.jvm = spans.Jvm(self.spark)
        return self.spark

    def phase(self, name: str) -> None:
        print(f"perfbench: {name} at {time.perf_counter() - self.t0:.1f}s", file=sys.stderr)

    def outcome(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong result: {what}", file=sys.stderr)
        return ok

    def attempt(self, what: str, fn):
        """Run one program operation; an exception counts as a failure."""
        try:
            return fn()
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def begin_measure(self) -> None:
        self.phase("measure")
        now = time.perf_counter()
        self.e2e["setup_s"] = now - self.t0 - self.excluded
        self.jvm.reset_heap_peak()
        self.gc0 = self.jvm.gc_seconds()
        self.cpu0 = spans.cpu_ticks()
        self.t_measure = now

    def measuring(self) -> bool:
        return time.perf_counter() - self.t_measure < self.seconds

    def end_measure(self) -> None:
        self.phase("end")
        self.layer["jvm.gc_s"] = self.jvm.gc_seconds() - self.gc0
        self.layer["jvm.heap_peak_mb"] = self.jvm.heap_peak_mb()
        self.e2e["op_p50_s"] = spans.median([t for t, tr in zip(self.ops, self.op_traced) if not tr])
        self.e2e["read_p50_s"] = spans.median(self.reads)
        self.e2e[f"read_p{TAIL_PCT}_s"] = spans.percentile(self.reads, TAIL_PCT)
        self.layer["peak_rss_mb"] = spans.peak_rss_mb(self.jvm)
        cpu = [b - a for a, b in zip(self.cpu0, spans.cpu_ticks())]
        print(
            f"perfbench: {len(self.ops)} ops {[round(t, 2) for t in self.ops]}, {len(self.reads)} reads, "
            f"{self.failed}/{self.attempted} failed, host steal {cpu[7] / max(1, sum(cpu)):.1%} while measuring",
            file=sys.stderr,
        )
        if self.trace:
            self._trace_metrics()

    def _trace_metrics(self) -> None:
        traced = [t for t, tr in zip(self.ops, self.op_traced) if tr]
        untraced = [t for t, tr in zip(self.ops, self.op_traced) if not tr]
        if traced and untraced:
            self.layer["trace.overhead_s"] = spans.median(traced) - spans.median(untraced)
        counts = [self.tracer.op_counts(i) for i in self.tracer.op_ids()]
        for i, name in enumerate(("jobs", "stages", "tasks")):
            self.layer[f"spark.{name}_per_op"] = spans.median([c[i] for c in counts])
        n = max(1, len(traced))
        for name, total in self.tracer.self_times().items():
            if name in TRACED_SPANS:
                self.layer[f"self.{name.replace('.', '_')}_s"] = total / n
        self.tracer.dump(os.path.join(self.root, ".perfbench_work", "traces", f"{self.workload}-seed{self.seed}.json"))


# ---------------------------------------------------------------- follow


class Follow:
    def __init__(self, run: Run):
        from helium_etl_lite_spark import cli, serving
        from helium_etl_lite_spark.etl import pipeline

        self.run, self.cli, self.serving, self.pipeline = run, cli, serving, pipeline
        self.keys = np.random.default_rng(run.seed + 1)
        self.commits: list[float] = []
        self.reg: list[float] = []
        self.by_kind: dict[str, list[float]] = {k: [] for k in READ_KINDS}
        self.probe: dict[str, list[float]] = {}

    def cfg(self, out: str) -> dict:
        return {
            "blocks_path": self.ch.blocks_path,
            "txns_path": self.ch.txns_path,
            "out_dir": out,
            "mode": "full",
            "backfill": True,
        }

    def main(self) -> None:
        run = self.run
        with run.excluded_time():
            self.ch = chain.Chain(os.path.join(run.work, "source"), seed=run.seed)
        run.phase("session")
        spark = run.start_session()
        tr = run.tracer
        tr.wrap(
            self.pipeline, "write_block_range_idempotent", "sink.write",
            lambda spark, df, path, lo, hi, range_size=1000, heights=None: {
                "path": path, "lo": lo, "hi": hi, "range_size": range_size
            },
        )
        tr.wrap(self.pipeline.IncrementalFollower, "init_cursor", "follower.init_cursor")
        tr.wrap(self.pipeline.CursorStore, "write", "follower.cursor_write")
        try:
            self._setup()
            run.begin_measure()
            i = 0
            while run.measuring():
                self.tick(i, traced=run.trace and i % 2 == 1)
                i += 1
            run.end_measure()
        finally:
            tr.uninstall()
        with run.excluded_time():
            self.check_store()
        self._metrics()

    def _setup(self) -> None:
        """Land a lagging range of BULK_EPOCHS epochs and load it into an
        empty store with one cold `cmd_once`: the bulk path, timed once
        and counted in full in setup_s. Then run WARMUP_TICKS whole
        ticks, untimed, to warm the commit and read paths; setup_s
        counts them once, at their median."""
        run, ch = self.run, self.ch
        self.out = os.path.join(run.work, "store")
        with run.excluded_time():
            ch.extend(BULK_EPOCHS * chain.EPOCH_LEN)
        run.phase("bulk load")
        want = ch.tip - ch.first_height + 1
        t = time.perf_counter()
        n = run.attempt("bulk cmd_once", lambda: self.cli.cmd_once(run.spark, self.cfg(self.out), run.log))
        bulk = time.perf_counter() - t
        if n is not None:
            run.outcome(n == want, f"bulk load loaded {n} blocks, expected {want}")
        run.layer["ingest_blocks_per_s"] = want / bulk
        if run.trace:
            with run.excluded_time():
                self._transforms_probe(ch.first_height, ch.tip)
        run.phase(f"bulk load took {bulk:.2f}s; warm-up")
        times = []
        for w in range(WARMUP_TICKS):
            t, excluded = time.perf_counter(), run.excluded
            self.tick(-1 - w, traced=False, record=False)
            times.append(time.perf_counter() - t - (run.excluded - excluded))
        run.repeated_setup(times)

    def _transforms_probe(self, lo: int, hi: int) -> None:
        """`build_outputs` over the bulk-loaded blocks lo..hi, forced
        through a noop write once: the transforms' busy time on the bulk
        path without the sink."""
        from pyspark.sql import functions as F

        from helium_etl_lite_spark.etl import transforms
        from helium_etl_lite_spark.etl.schemas import BLOCK_SCHEMA, TXN_SCHEMA

        spark = self.run.spark
        blocks = spark.read.schema(BLOCK_SCHEMA).parquet(self.ch.blocks_path).where(F.col("height").between(lo, hi))
        txns = spark.read.schema(TXN_SCHEMA).parquet(self.ch.txns_path)
        out = transforms.build_outputs("full", blocks, txns)
        t = time.perf_counter()
        out["rewards"].write.format("noop").mode("overwrite").save()
        out["transactions"].dropDuplicates(["hash"]).write.format("noop").mode("overwrite").save()
        busy = time.perf_counter() - t
        rows = out["rewards"].count()
        envelopes = transforms.explode_envelopes(blocks).count()
        layer = self.run.layer
        layer["transforms.busy_s_per_kblock"] = busy / ((hi - lo + 1) / 1000)
        layer["transforms.rewards_rows_out"] = rows
        layer["transforms.explode_ratio"] = rows / envelopes

    def _older(self, n: int, count: int) -> list[int]:
        """`count` indexes into n older items, Zipf-skewed toward the
        most recent (index n - 1)."""
        return [n - 1 - (int(r) - 1) % n for r in self.keys.zipf(RECENCY_ZIPF, count)]

    def _plan(self, lo: int, hi: int, n_before: int) -> list[tuple]:
        """The tick's reads as (kind, query, check). The first is the new
        slice's block range, the freshness read; the rest follow in a
        seeded order: older epochs' block ranges, top-k gateways, hashes
        from the new slice and older ones, and by-type slices."""
        serving, spark, ch = self.serving, self.run.spark, self.ch

        def block_range(a: int, b: int):
            return ("block_range", lambda: serving.rewards_in_block_range(spark, a, b),
                    lambda rows: [tuple(r) for r in rows] == [tuple(x) for x in ch.rewards_in_range(a, b)])

        def topk(k: int):
            return ("gateway_topk", lambda: serving.gateway_earnings_topk(spark, k),
                    lambda rows: [tuple(r) for r in rows] == ch.gateway_topk(k))

        def by_hash(h: str):
            return ("tx_by_hash", lambda: serving.transaction_by_hash(spark, h), lambda rows: self._txn_ok(rows, h))

        def by_type(ttype: str, path: str):
            return ("tx_by_type", lambda: serving.transactions_by_type(spark, ttype, path),
                    lambda rows: self._type_ok(rows, ttype, path))

        epochs, first = (lo - ch.first_height) // chain.EPOCH_LEN, ch.first_height
        rest = [block_range(first + e * chain.EPOCH_LEN, first + (e + 1) * chain.EPOCH_LEN - 1)
                for e in self._older(epochs, READS_PER_KIND - 1)]
        rest += [topk(k) for k in TOPK]
        hashes = ch.txn_hashes
        rest.append(by_hash(hashes[n_before + int(self.keys.integers(0, len(hashes) - n_before))]))
        rest += [by_hash(hashes[j]) for j in self._older(n_before, READS_PER_KIND - 1)]
        rest += [by_type(t, path) for t, path in TYPE_READS]
        return [block_range(lo, hi)] + [rest[j] for j in self.keys.permutation(len(rest))]

    def tick(self, i: int, traced: bool, record: bool = True) -> None:
        """One tick: land an epoch, commit it, read. Ticks with a
        negative id are warm-up and record no timings."""
        run, ch, serving, spark = self.run, self.ch, self.serving, self.run.spark
        tr = run.tracer
        with run.excluded_time():
            n_before = len(ch.txn_hashes)
            lo, hi = ch.extend(chain.EPOCH_LEN)
            plan = self._plan(lo, hi, n_before)
        t_land = time.perf_counter()
        fresh = None
        reads: list[tuple[str, float]] = []
        with tr.operation(i, traced):
            commit_group = tr.subgroup("commit") if traced else contextlib.nullcontext()
            with commit_group, tr.span("program.cmd_once"):
                t = time.perf_counter()
                n = run.attempt("tick cmd_once", lambda: self.cli.cmd_once(spark, self.cfg(self.out), run.log))
                commit = time.perf_counter() - t
            if n is not None:
                run.outcome(n == hi - lo + 1, f"tick {i} loaded {n} blocks, expected {hi - lo + 1}")
            with tr.span("serving.register_views"):
                t = time.perf_counter()
                views = run.attempt("register_views", lambda: serving.register_views(spark, self.out))
                reg = time.perf_counter() - t
            if views is None:
                return
            for j, (kind, query, ok) in enumerate(plan):
                group = tr.subgroup(f"read{j}") if traced else contextlib.nullcontext()
                with group, tr.span("serving.read", kind=kind):
                    t = time.perf_counter()
                    rows = run.attempt(f"read {kind}", lambda: query().collect())
                    now = time.perf_counter()
                if rows is not None and run.outcome(ok(rows), f"tick {i} read {kind}"):
                    reads.append((kind, now - t))
                    if j == 0:
                        # the first read returning all of the slice's reward rows
                        fresh = now - t_land
            cur = views["follower_info"].collect()
            run.outcome([tuple(r) for r in cur] == [(ch.tip, ch.first_height)], f"tick {i} cursor {cur}")
        if not record:
            return
        if fresh is not None:
            run.ops.append(fresh)
            run.op_traced.append(traced)
        if traced:
            with run.excluded_time():
                self._tick_probes(i, ch.txn_hashes[n_before])
            return
        self.commits.append(commit)
        self.reg.append(reg)
        for kind, dt in reads:
            run.reads.append(dt)
            self.by_kind[kind].append(dt)

    def _txn_ok(self, rows, h: str) -> bool:
        t = self.ch.txns[h]
        return [(r["block"], r["hash"], r["type"], r["fields"]) for r in rows] == [(t.block, h, t.type, t.fields)]

    def _type_ok(self, rows, ttype: str, path: str) -> bool:
        key = path.removeprefix("$.")
        want = {h: json.loads(self.ch.txns[h].fields)[key] for h in self.ch.by_type.get(ttype, ())}
        return {r["hash"]: r["field"] for r in rows} == want and len(rows) == len(want)

    def _tick_probes(self, i: int, new_hash: str) -> None:
        """Per-layer figures of one traced tick, read after it ended."""
        from helium_etl_lite_spark.etl.schemas import BLOCK_SCHEMA, TXN_SCHEMA

        run, spark, tr, ch = self.run, self.run.spark, self.run.tracer, self.ch
        p = self.probe
        op_spans = [s for s in tr.spans if s.op == i]
        writes = [s for s in op_spans if s.name == "sink.write"]
        batch = rewritten = files = 0
        for s in writes:
            a = s.attrs
            lo, hi, rs = a["lo"], a["hi"], a["range_size"]
            reward_rows, txn_rows = ch.rows_in_range(lo, hi)
            batch += reward_rows if a["path"].endswith("rewards") else txn_rows
            for r in range(lo // rs, hi // rs + 1):
                d = os.path.join(a["path"], f"block_range={r}")
                for name in os.listdir(d) if os.path.isdir(d) else ():
                    if name.endswith(".parquet"):
                        files += 1
                        rewritten += pq.ParquetFile(os.path.join(d, name)).metadata.num_rows
        p.setdefault("sink.write_s", []).append(sum(s.end - s.start for s in writes))
        p.setdefault("sink.useful_write_ratio", []).append(batch / max(1, rewritten))
        p.setdefault("sink.files_written", []).append(files)
        for name in ("follower.init_cursor", "follower.cursor_write"):
            p.setdefault(f"{name}_s", []).append(sum(s.end - s.start for s in op_spans if s.name == name))
        t = time.perf_counter()
        spark.read.schema(BLOCK_SCHEMA).parquet(ch.blocks_path)
        spark.read.schema(TXN_SCHEMA).parquet(ch.txns_path)
        p.setdefault("source.list_s", []).append(time.perf_counter() - t)
        p.setdefault("store.files", []).append(spans.walk_store(self.out)[0])
        p.setdefault("serving.files_per_lookup", []).append(
            len(self.serving.transaction_by_hash(spark, new_hash).inputFiles())
        )
        p.setdefault("serving.jobs_per_read", []).append(
            spans.median([tr.group_counts(g)[0] for g in tr.subgroups(i, "read")])
        )
        p.setdefault("spark.jobs_per_commit", []).append(
            sum(tr.group_counts(g)[0] for g in tr.subgroups(i, "commit"))
        )

    def check_store(self) -> None:
        """Whole-store checks against the ground truth: reward rows and
        amount per block range, distinct txn hashes, cursor at tip."""
        run, spark, ch = self.run, self.run.spark, self.ch
        views = run.attempt("check register_views", lambda: self.serving.register_views(spark, self.out))
        if views is None:
            return
        got = spark.sql(
            "SELECT block_range, COUNT(*), SUM(amount) FROM rewards GROUP BY block_range ORDER BY block_range"
        ).collect()
        want: dict[int, list[int]] = {}
        for h, n in ch.reward_rows.items():
            if n:
                w = want.setdefault(h // 1000, [0, 0])
                w[0] += n
                w[1] += ch.reward_amount[h]
        run.outcome([tuple(r) for r in got] == [(k, *v) for k, v in sorted(want.items())], "store rewards per block range")
        n, distinct = spark.sql("SELECT COUNT(*), COUNT(DISTINCT hash) FROM transactions").collect()[0]
        run.outcome(n == distinct == len(ch.txns), f"store transactions {n}/{distinct}, expected {len(ch.txns)}")
        cur = [tuple(r) for r in views["follower_info"].collect()]
        run.outcome(cur == [(ch.tip, ch.first_height)], f"store cursor {cur}")

    def _metrics(self) -> None:
        run, layer = self.run, self.run.layer
        layer["commit_p50_s"] = spans.median(self.commits)
        layer["serving.register_views_s"] = spans.median(self.reg)
        for k, xs in self.by_kind.items():
            layer[f"serving.{k}_s"] = spans.median(xs)
        for k, xs in self.probe.items():
            layer[k] = spans.median(xs)
        _files, size = spans.walk_store(self.out)
        reward_rows, txn_rows = self.ch.rows_in_range(self.ch.first_height, self.ch.tip)
        layer["store_bytes_per_row"] = size / (reward_rows + txn_rows)


# ------------------------------------------------------------- analytics


class Analytics:
    def __init__(self, run: Run):
        self.run = run

    def main(self) -> None:
        from helium_etl_lite_spark import registry
        from helium_etl_lite_spark.tables import TABLE_NAMES
        from tools.check_oracle import compare, duck_connection

        run = self.run
        registry.load_all()
        names = RELATIONAL + CURATION
        with run.excluded_time():
            tables = tpch.generate(os.path.join(run.work, "tables"), ANALYTICS_SF)
            con = duck_connection(tables)
            oracle = {q: con.execute(registry.ORACLES[q]).df() for q in names}
            con.close()
        run.phase("session")
        spark = run.start_session()
        times = []
        for _ in range(FIRST_TOUCH_REPEATS):
            # first-touch reads: list and read the footer of every table
            t = time.perf_counter()
            for name in TABLE_NAMES:
                spark.read.parquet(os.path.join(tables, f"{name}.parquet")).schema
            times.append(time.perf_counter() - t)
        run.phase(f"first-touch {[round(t, 2) for t in times]}")
        run.repeated_setup(times)
        order_rng = np.random.default_rng(run.seed)
        per_query: dict[str, list[float]] = {q: [] for q in names}
        passes: dict[str, list[float]] = {"relational": [], "curation": []}

        def one_pass(p: int, traced: bool, record: bool) -> None:
            order = [names[k] for k in order_rng.permutation(len(names))]
            results, took = {}, {}
            with run.tracer.operation(p, traced):
                for q in order:
                    with run.tracer.span("registry.query", query=q):
                        t = time.perf_counter()
                        results[q] = run.attempt(q, lambda: registry.QUERIES[q](spark, tables).toPandas())
                        took[q] = time.perf_counter() - t
            run.phase(f"pass {p}: " + " ".join(f"{q}={took[q]:.2f}" for q in order))
            for q in order:
                if results[q] is not None:
                    problems = compare(q, results[q], oracle[q])
                    run.outcome(not problems, f"{q}: {problems[:3]}")
            if not record:
                return
            run.ops.append(sum(took.values()))
            run.op_traced.append(traced)
            if traced:
                return
            for q in order:
                per_query[q].append(took[q])
                run.reads.append(took[q])
            passes["relational"].append(sum(took[q] for q in RELATIONAL))
            passes["curation"].append(sum(took[q] for q in CURATION))

        for w in range(WARMUP_PASSES):
            one_pass(-1 - w, traced=False, record=False)
        run.begin_measure()
        p = 0
        while run.measuring():
            one_pass(p, traced=run.trace and p % 2 == 1, record=True)
            p += 1
        run.end_measure()
        layer = run.layer
        for q in RELATIONAL:
            layer[f"queries.{q}_s"] = spans.median(per_query[q])
        for q in CURATION:
            layer[f"operators.{q}_s"] = spans.median(per_query[q])
        layer["relational_pass_s"] = spans.median(passes["relational"])
        layer["curation_pass_s"] = spans.median(passes["curation"])


WORKLOADS = {"follow": Follow, "analytics": Analytics}
