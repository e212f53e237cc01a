"""Incremental rollup maintenance (operators/rollup.py): refresh-based
continuous aggregates must equal the from-scratch rollup after any
batch sequence, converge under replay, and handle late data."""

from __future__ import annotations

import pytest

# r15 heavy lane: rollup integration (334 s) on the r15 sandbox — runs with
# SPARK_GRAFT_TEST_LANE=full (or -m heavy); see tests/conftest.py.
pytestmark = pytest.mark.heavy

import datetime as dt

from pyspark.sql import functions as F

from helium_etl_lite_spark.operators import rollup


BASE = dt.datetime(2024, 1, 1)


def _events(spark, rows):
    # rows: (event_id, minutes_offset, event_type, value)
    return spark.createDataFrame(
        [(i, BASE + dt.timedelta(minutes=m), t, v) for i, m, t, v in rows],
        "event_id long, ts timestamp, event_type string, value double",
    )


def _full_rollup(source):
    b = rollup.bucket_of("ts", 3600)
    return source.withColumn("bucket", b).groupBy("bucket", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def _as_set(df):
    return {
        (r["bucket"], r["event_type"], r["n_events"], r["total_value"],
         r["min_value"], r["max_value"])
        for r in df.collect()
    }


class TestIncrementalRollup:
    def test_incremental_equals_full_recompute(self, spark, tmp_path):
        path = str(tmp_path / "r1")
        batches = [
            _events(spark, [(0, 0, "click", 1.0), (1, 10, "view", 2.0)]),
            _events(spark, [(2, 70, "click", 3.0), (3, 80, "click", 4.0)]),
            # third batch is LATE data into the first hour's bucket
            _events(spark, [(4, 5, "click", 9.0), (5, 130, "view", 5.0)]),
        ]
        landed = None
        for batch in batches:
            landed = batch if landed is None else landed.unionByName(batch)
            rollup.refresh_rollup(spark, landed, batch, path, value_col="value")
        got = _as_set(rollup.read_rollup(spark, path))
        want = _as_set(_full_rollup(landed))
        assert got == want
        # late data really did rewrite the old bucket
        first_bucket = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
        assert any(b == first_bucket and t == "click" and n == 2
                   for b, t, n, *_ in got)

    def test_replay_converges(self, spark, tmp_path):
        path = str(tmp_path / "r2")
        b1 = _events(spark, [(0, 0, "click", 1.0), (1, 70, "view", 2.0)])
        rollup.refresh_rollup(spark, b1, b1, path, value_col="value")
        once = _as_set(rollup.read_rollup(spark, path))
        # replay the same batch (crash-retry / checkpoint replay)
        rollup.refresh_rollup(spark, b1, b1, path, value_col="value")
        assert _as_set(rollup.read_rollup(spark, path)) == once

    def test_refresh_scopes_to_touched_buckets(self, spark, tmp_path):
        path = str(tmp_path / "r3")
        all_events = _events(
            spark, [(0, 0, "click", 1.0), (1, 70, "view", 2.0), (2, 130, "click", 3.0)]
        )
        rollup.refresh_rollup(spark, all_events, all_events, path, value_col="value")
        # a batch touching only hour 2 must refresh exactly that bucket
        late = _events(spark, [(3, 135, "click", 7.0)])
        touched = rollup.refresh_rollup(
            spark, all_events.unionByName(late), late, path, value_col="value"
        )
        assert touched == [int(BASE.replace(tzinfo=dt.timezone.utc).timestamp()) + 7200]
        got = _as_set(rollup.read_rollup(spark, path))
        want = _as_set(_full_rollup(all_events.unionByName(late)))
        assert got == want

    def test_empty_batch_is_noop(self, spark, tmp_path):
        path = str(tmp_path / "r4")
        b1 = _events(spark, [(0, 0, "click", 1.0)])
        rollup.refresh_rollup(spark, b1, b1, path, value_col="value")
        before = _as_set(rollup.read_rollup(spark, path))
        empty = _events(spark, [])
        assert rollup.refresh_rollup(spark, b1, empty, path, value_col="value") == []
        assert _as_set(rollup.read_rollup(spark, path)) == before


class TestSketchRollup:
    def test_hll_sketch_maintained(self, spark, tmp_path):
        path = str(tmp_path / "r5")
        rows = []
        # 3 hours; user u appears in hours u % 3 and (u+1) % 3
        for u in range(30):
            for h in (u % 3, (u + 1) % 3):
                rows.append((len(rows), h * 60 + (u % 50), "click", 1.0, u))
        src = spark.createDataFrame(
            [(i, BASE + dt.timedelta(minutes=m), t, v, u) for i, m, t, v, u in rows],
            "event_id long, ts timestamp, event_type string, value double, user_id long",
        )
        rollup.refresh_rollup(spark, src, src, path, value_col="value", distinct_col="user_id")
        got = rollup.read_rollup(spark, path)
        # per-hour estimates: exact at this cardinality (HLL is exact in
        # sparse mode for small sets)
        per_hour = {r["bucket"]: r["n_distinct_est"] for r in got.collect()}
        assert all(v == 20 for v in per_hour.values()) and len(per_hour) == 3


class TestIncrementalDedup:
    # operators/dedup.py incremental exact dedup: batches dedupe against
    # the whole landed corpus via the persisted hash state.

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cross_batch_and_in_batch_dups(self, spark, tmp_path):
        from helium_etl_lite_spark.operators import dedup

        state = str(tmp_path / "state")
        b1 = self._docs(spark, [(1, "alpha"), (2, "beta"), (3, "alpha")])
        f1 = dedup.dedup_filter_new(spark, b1, state)
        got1 = sorted(r["doc_id"] for r in f1.collect())
        assert got1 == [1, 2]  # in-batch dup of "alpha" collapsed to min id
        dedup.dedup_state_add(spark, f1, state, 0)

        b2 = self._docs(spark, [(4, "beta"), (5, "gamma"), (6, "ALPHA  ")])
        f2 = dedup.dedup_filter_new(spark, b2, state)
        got2 = sorted(r["doc_id"] for r in f2.collect())
        # "beta" seen in batch 1; "ALPHA  " normalizes to seen "alpha"
        assert got2 == [5]
        dedup.dedup_state_add(spark, f2, state, 1)

        # corpus-equivalence: surviving ids across batches == one-shot
        # exact dedup keepers over the concatenated corpus
        all_docs = b1.unionByName(b2)
        keepers = {
            r["keeper_doc_id"] for r in dedup.exact_dedup(all_docs).collect()
        }
        assert set(got1) | set(got2) == keepers

    def test_broadcast_probe_matches_shuffle_probe(self, spark, tmp_path):
        # The fingerprint-broadcast probe (state never shuffles) must be
        # row-identical to the plain shuffled anti-join, including under
        # in-batch dups and normalization hits.
        from helium_etl_lite_spark.operators import dedup

        state = str(tmp_path / "state")
        b1 = self._docs(
            spark, [(i, f"doc {i % 37}") for i in range(100)]
        )
        f1 = dedup.dedup_filter_new(spark, b1, state)
        dedup.dedup_state_add(spark, f1, state, 0)
        b2 = self._docs(
            spark,
            [(1000 + i, f"doc {i % 61}") for i in range(100)]
            + [(2000, "DOC 5  "), (2001, "doc 5")],
        )
        bc = sorted(
            r["doc_id"] for r in dedup.dedup_filter_new(spark, b2, state).collect()
        )
        sh = sorted(
            r["doc_id"]
            for r in dedup.dedup_filter_new(
                spark, b2, state, max_broadcast_rows=0
            ).collect()
        )
        assert bc == sh

    def test_broadcast_probe_state_side_never_shuffles(self, spark, tmp_path):
        # Plan shape: the state scan feeds a BroadcastHashJoin LeftSemi
        # (built from the batch fingerprints) — no Exchange may sit
        # between the state parquet scan and the semi-join.
        from helium_etl_lite_spark.operators import dedup

        state = str(tmp_path / "state")
        b1 = self._docs(spark, [(1, "x"), (2, "y")])
        f1 = dedup.dedup_filter_new(spark, b1, state)
        dedup.dedup_state_add(spark, f1, state, 0)
        probe = dedup.dedup_filter_new(spark, self._docs(spark, [(3, "x"), (4, "z")]), state)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    def test_replay_converges(self, spark, tmp_path):
        from helium_etl_lite_spark.etl.snapshot import STATE, read_snapshot
        from helium_etl_lite_spark.operators import dedup

        state = str(tmp_path / "state")
        b1 = self._docs(spark, [(1, "x"), (2, "y")])
        f1 = dedup.dedup_filter_new(spark, b1, state)
        dedup.dedup_state_add(spark, f1, state, 0)
        # crash-replay: state_add again with the same fresh rows under
        # the same batch id is skipped — the state keeps one row per hash
        dedup.dedup_state_add(spark, f1, state, 0)
        assert read_snapshot(spark, state, STATE).count() == 2
        assert dedup.dedup_filter_new(spark, b1, state).count() == 0


class TestUrlDedupIncremental:
    # r12 verdict item 4: the URL recrawl loop — dedup_filter_new with
    # normalize=False over canonical URLs (case-SENSITIVE keys).

    def _urls(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, canonical_url string")

    def test_case_sensitive_keys_and_replay_idempotence(self, spark, tmp_path):
        from helium_etl_lite_spark.etl.snapshot import STATE, read_snapshot
        from helium_etl_lite_spark.operators import dedup

        state = str(tmp_path / "state")
        b1 = self._urls(spark, [
            (1, "http://a.com/Page"),
            (2, "http://a.com/page"),   # case-distinct path: a DIFFERENT resource
            (3, "http://a.com/Page"),   # in-batch recrawl -> collapses to 1
        ])
        f1 = dedup.dedup_filter_new(
            spark, b1, state, text_col="canonical_url", normalize=False
        )
        assert sorted(r["doc_id"] for r in f1.collect()) == [1, 2]
        dedup.dedup_state_add(spark, f1, state, 0)

        # crash-replay of the fold-in under the same batch id is skipped
        dedup.dedup_state_add(spark, f1, state, 0)
        b2 = self._urls(spark, [
            (10, "http://a.com/page"),  # recrawl of the landed lowercase
            (11, "http://a.com/PAGE"),  # case-distinct: genuinely new
            (12, "http://b.com/x"),
        ])
        probe = lambda: sorted(
            r["doc_id"]
            for r in dedup.dedup_filter_new(
                spark, b2, state, text_col="canonical_url", normalize=False
            ).collect()
        )
        assert probe() == [11, 12]
        assert read_snapshot(spark, state, STATE).count() == 2

    def test_registered_query_matches_oneshot(self, spark, sf_dir):
        # the two-batch loop's survivors == the canonical-URL groups of
        # the odd batch that are new vs the even batch (one-shot form)
        from helium_etl_lite_spark import registry
        from helium_etl_lite_spark.operators import url as U

        registry.load_all()
        got = {
            r["doc_id"]
            for r in registry.QUERIES["url_dedup_canonical_incremental"](
                spark, sf_dir
            ).collect()
        }
        from helium_etl_lite_spark.tables import Tables
        from pyspark.sql import functions as F

        u = U.url_wrap(Tables(spark, sf_dir).documents.select("doc_id")).select(
            "doc_id", U.canonical_url(F.col("url")).alias("c")
        )
        even = {r["c"] for r in u.where(F.col("doc_id") % 2 == 0).select("c").distinct().collect()}
        odd = u.where(F.col("doc_id") % 2 == 1).groupBy("c").agg(
            F.min("doc_id").alias("keeper")
        )
        want = {r["keeper"] for r in odd.collect() if r["c"] not in even}
        assert got == want


class TestDsirIncremental:
    # r13 verdict item 3: DSIR's bucket-count state — per-batch integer
    # count deltas folded in as one fragment per batch id, totals
    # re-derived by per-bucket addition.

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def _counts(self, docs):
        from helium_etl_lite_spark.queries.curation import (
            _dsir_bucket_counts,
            _dsir_feats,
        )

        return _dsir_bucket_counts(_dsir_feats(docs))

    def _totals(self, spark, state):
        from helium_etl_lite_spark.operators import dsir

        c = dsir.dsir_state_counts(spark, state)
        return sorted(
            (r["b"], r["c_raw"], r["c_tgt"]) for r in c.collect()
        )

    def test_replay_idempotence_and_exact_merge(self, spark, tmp_path):
        from helium_etl_lite_spark.operators import dsir

        state = str(tmp_path / "state")
        assert dsir.dsir_state_counts(spark, state) is None

        b1 = self._docs(spark, [
            (1, "en", "the cat sat"),
            (2, "de", "der hund lief weit"),
        ])
        b2 = self._docs(spark, [
            (3, "en", "the cat ran"),   # shares 'the'/'cat' buckets with b1
            (4, "fr", "le chat"),
        ])
        dsir.dsir_state_add(spark, self._counts(b1), state, batch_id=0)
        dsir.dsir_state_add(spark, self._counts(b2), state, batch_id=1)
        merged = self._totals(spark, state)

        # crash-replay of either fold-in: the batch id is at or below
        # the state's cursor, so it is skipped and totals cannot
        # double-count
        dsir.dsir_state_add(spark, self._counts(b2), state, batch_id=1)
        assert self._totals(spark, state) == merged
        dsir.dsir_state_add(spark, self._counts(b1), state, batch_id=0)
        assert self._totals(spark, state) == merged

        # exactness: accumulated state == one-shot counts over the union
        # (addition of disjoint deltas is lossless)
        direct = sorted(
            (r["b"], r["c_raw"], r["c_tgt"])
            for r in self._counts(b1.unionByName(b2)).collect()
        )
        assert merged == direct

    def test_fold_from_cloned_session_preserves_other_batches(
        self, spark, tmp_path
    ):
        # foreachBatch binds micro-batch frames to a CLONED session
        # with isolated conf; a fold-in from the clone must keep every
        # other batch's delta (a former dynamic-overwrite form lost them
        # when its mode rode the session conf: found live by
        # stream_dsir_importance, only the last delta survived).
        from helium_etl_lite_spark.operators import dsir

        state = str(tmp_path / "state")
        b1 = self._docs(spark, [(1, "en", "the cat")])
        dsir.dsir_state_add(spark, self._counts(b1), state, batch_id=0)
        clone = spark.newSession()
        b2c = clone.createDataFrame(
            [(2, "de", "der hund")], "doc_id long, lang string, text string"
        )
        dsir.dsir_state_add(clone, self._counts(b2c), state, batch_id=1)
        merged = self._totals(spark, state)
        union = b1.unionByName(self._docs(spark, [(2, "de", "der hund")]))
        direct = sorted(
            (r["b"], r["c_raw"], r["c_tgt"])
            for r in self._counts(union).collect()
        )
        assert merged == direct

    def test_fold_order_commutes(self, spark, tmp_path):
        from helium_etl_lite_spark.operators import dsir

        b1 = self._docs(spark, [(1, "en", "alpha beta gamma")])
        b2 = self._docs(spark, [(2, "de", "delta epsilon")])
        s12 = str(tmp_path / "s12")
        dsir.dsir_state_add(spark, self._counts(b1), s12, batch_id=0)
        dsir.dsir_state_add(spark, self._counts(b2), s12, batch_id=1)
        s21 = str(tmp_path / "s21")
        dsir.dsir_state_add(spark, self._counts(b2), s21, batch_id=0)
        dsir.dsir_state_add(spark, self._counts(b1), s21, batch_id=1)
        assert self._totals(spark, s12) == self._totals(spark, s21)


class TestMknIncremental:
    def test_state_path_equals_oneshot(self, spark, sf_dir):
        # the incremental twin's whole claim: trigram counts summed
        # from per-batch state deltas feed the IDENTICAL scorer, so
        # the registered query must equal the one-shot form row for
        # row (same oracle string backs both in the registry).
        from helium_etl_lite_spark import registry

        registry.load_all()
        one = {
            r["doc_id"]: (r["n_trigrams"], r["avg_nll"])
            for r in registry.QUERIES["text_perplexity_modified_kn"](
                spark, sf_dir
            ).collect()
        }
        inc = {
            r["doc_id"]: (r["n_trigrams"], r["avg_nll"])
            for r in registry.QUERIES[
                "text_perplexity_modified_kn_incremental"
            ](spark, sf_dir).collect()
        }
        assert one == inc and len(one) > 0


class TestIncrementalMinhashDedup:
    # operators/dedup.py minhash_filter_new/minhash_state_add: near-dup
    # ingest against the persisted band-bucket + signature state
    # (r4 verdict item 6 — the corpus-scale training-pipeline loop).

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cross_batch_and_in_batch_near_dups(self, spark, tmp_path):
        from helium_etl_lite_spark.operators import dedup

        state = str(tmp_path / "mh_state")
        b1 = self._docs(
            spark,
            [
                (1, "alpha beta gamma delta"),
                (2, "totally different words here now"),
                (3, "alpha beta gamma delta"),  # in-batch exact dup of 1
            ],
        )
        f1 = dedup.minhash_filter_new(spark, b1, state, jaccard_threshold=0.5)
        assert sorted(r["doc_id"] for r in f1.collect()) == [1, 2]
        assert "sig" in f1.columns  # state_add reuses the signatures
        dedup.minhash_state_add(spark, f1, state, 0)

        b2 = self._docs(
            spark,
            [
                (4, "alpha beta gamma delta"),          # exact dup of corpus doc 1
                (5, "alpha beta gamma delta epsilon"),  # near-dup, J=0.8
                (6, "entirely fresh unique content tokens"),
            ],
        )
        f2 = dedup.minhash_filter_new(spark, b2, state, jaccard_threshold=0.5)
        assert sorted(r["doc_id"] for r in f2.collect()) == [6]

    def test_broadcast_probe_matches_shuffle_probe(self, spark, tmp_path):
        # Same contract as the exact-dedup probe: the band-bucket
        # broadcast semi (state never shuffles) must be row-identical
        # to the shuffled equi-join fallback.
        from helium_etl_lite_spark.operators import dedup

        state = str(tmp_path / "mh_state")
        vocab = "a b c d e f g h i j k l m n o p q r s t".split()
        b1 = self._docs(
            spark,
            [(i, " ".join(vocab[i % 7 : i % 7 + 8])) for i in range(40)],
        )
        f1 = dedup.minhash_filter_new(spark, b1, state, jaccard_threshold=0.6)
        dedup.minhash_state_add(spark, f1, state, 0)
        b2 = self._docs(
            spark,
            [(100 + i, " ".join(vocab[i % 11 : i % 11 + 9])) for i in range(40)],
        )
        bc = sorted(
            r["doc_id"]
            for r in dedup.minhash_filter_new(
                spark, b2, state, jaccard_threshold=0.6
            ).collect()
        )
        sh = sorted(
            r["doc_id"]
            for r in dedup.minhash_filter_new(
                spark, b2, state, jaccard_threshold=0.6, max_broadcast_rows=0
            ).collect()
        )
        assert bc == sh

    def test_replay_converges(self, spark, tmp_path):
        from helium_etl_lite_spark.etl.snapshot import STATE, read_snapshot
        from helium_etl_lite_spark.operators import dedup

        state = str(tmp_path / "mh_state")
        b1 = self._docs(spark, [(1, "p q r s"), (2, "m n o t u")])
        f1 = dedup.minhash_filter_new(spark, b1, state)
        dedup.minhash_state_add(spark, f1, state, 0)
        n1 = read_snapshot(spark, state, STATE).count()
        assert n1 == 2 * 8  # one band row per doc per band (bands=8)
        # crash-replay: folding the same landed batch in again under the
        # same batch id is skipped; the probe drops the whole batch
        dedup.minhash_state_add(spark, f1, state, 0)
        assert read_snapshot(spark, state, STATE).count() == n1
        assert dedup.minhash_filter_new(spark, b1, state).count() == 0


class TestStreamingUrlDedup:
    def test_stream_equals_batch_loop_and_state_shape(self, spark, tmp_path):
        # Two drains with a checkpoint restart in between (the
        # kill/catch-up cycle); survivors must equal the batch
        # incremental loop over the same two batches, and the state
        # holds one hash row per distinct canonical URL.
        from pyspark.sql import functions as F

        from helium_etl_lite_spark.streaming.dedup_stream import (
            start_url_dedup_stream,
            url_corpus,
        )

        b1 = [
            (2, "HTTP://A.com:80/x?utm_source=f"),   # canon http://a.com/x
            (4, "http://a.com/x#frag"),              # recrawl of 2
            (6, "https://b.com/Y"),
        ]
        b2 = [
            (1, "http://a.com/x"),                   # seen in batch 1
            (3, "https://b.com/y"),                  # case-DISTINCT path: new
            (5, "https://c.com/z?gclid=1"),          # new
        ]
        feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
        spark.createDataFrame(b1, "doc_id long, url string").coalesce(
            1
        ).write.mode("append").json(feed)
        start_url_dedup_stream(spark, feed, out).awaitTermination(180)
        spark.createDataFrame(b2, "doc_id long, url string").coalesce(
            1
        ).write.mode("append").json(feed)
        start_url_dedup_stream(spark, feed, out).awaitTermination(180)

        landed = url_corpus(spark, out)
        got = {
            r["doc_id"]: r["canonical_url"] for r in landed.collect()
        }
        assert got == {
            2: "http://a.com/x",
            6: "https://b.com/Y",
            3: "https://b.com/y",
            5: "https://c.com/z",
        }, got
        # one store: the corpus and one hash per distinct canonical
        # landed, each held once
        from helium_etl_lite_spark.etl.snapshot import STATE, read_snapshot

        assert landed.count() == 4
        assert read_snapshot(spark, out, STATE).count() == 4


class TestIncrementalJoinView:
    """view_incremental_join_refresh: the delta-rule identity
    V2 = V1 ∪ ΔA⋈B1 ∪ A1⋈ΔB ∪ ΔA⋈ΔB (insert-only). The exact-oracle
    sweep pins V2 == full recompute; here we pin the STRUCTURE the
    identity relies on: the three delta terms are pairwise disjoint and
    exactly cover full − V1 (so append-only maintenance neither drops
    nor double-counts a row)."""

    def test_delta_terms_partition_the_difference(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from helium_etl_lite_spark.tables import Tables

        t = Tables(spark, sf_dir)
        orders = t.orders.select("o_orderkey", "o_custkey")
        cust = t.customer.select("c_custkey")
        on = F.col("o_custkey") == F.col("c_custkey")
        d_o = orders.where(F.col("o_orderkey") % 10 == 0)
        a1 = orders.where(F.col("o_orderkey") % 10 != 0)
        d_c = cust.where(F.col("c_custkey") % 20 == 0)
        b1 = cust.where(F.col("c_custkey") % 20 != 0)

        full = orders.join(cust, on).select("o_orderkey")
        v1 = a1.join(b1, on).select("o_orderkey")
        t1 = d_o.join(b1, on).select("o_orderkey")
        t2 = a1.join(d_c, on).select("o_orderkey")
        t3 = d_o.join(d_c, on).select("o_orderkey")

        n_full, n_v1 = full.count(), v1.count()
        n1, n2, n3 = t1.count(), t2.count(), t3.count()
        # disjoint: each order key appears in exactly one term (keys are
        # unique in orders and each order matches <=1 customer).
        assert t1.intersect(t2).count() == 0
        assert t1.intersect(t3).count() == 0
        assert t2.intersect(t3).count() == 0
        # cover: the three terms sum exactly to the difference.
        assert n1 + n2 + n3 == n_full - n_v1
        # and the deltas are non-trivial at this sf (the test means
        # nothing if a split is empty).
        assert n1 > 0 and n2 > 0 and n3 > 0


class TestIncrementalCuration:
    """pipeline_incremental_curation: the exact-oracle sweep pins the
    two-cycle fixed point; here we pin the CRASH-REPLAY property the
    loop leans on — re-curating the same CDC feed is a no-op because
    the dedup state already holds every landed hash (operators/dedup.py
    dedup_state_add skips the replayed batch id)."""

    def test_replayed_feed_lands_nothing(self, spark, sf_dir, tmp_path):
        import pyspark.sql.functions as F

        from helium_etl_lite_spark.operators import dedup
        from helium_etl_lite_spark.queries.curation import (
            gopher_keep_condition,
        )
        from helium_etl_lite_spark.tables import Tables

        state = str(tmp_path / "state")
        curated = str(tmp_path / "curated")
        docs = Tables(spark, sf_dir).documents.select("doc_id", "lang", "text")

        def curate(batch_df, batch_id):
            gated = batch_df.where(gopher_keep_condition())
            fresh = dedup.dedup_filter_new(spark, gated, state)
            dedup.dedup_state_add(spark, fresh, state, batch_id)
            fresh.select("doc_id").write.mode(
                "append" if batch_id else "overwrite"
            ).parquet(curated)

        b1 = docs.where(F.col("doc_id") % 3 != 0)
        b2 = docs.where(F.col("doc_id") % 3 == 0)
        curate(b1, 0)
        n1 = spark.read.parquet(curated).count()
        curate(b2, 1)
        landed = sorted(
            r[0] for r in spark.read.parquet(curated).collect()
        )
        assert len(landed) > n1  # cycle 2 added something
        # crash between sink-append and cursor advance -> the same feed
        # replays; the state must swallow it whole.
        curate(b2, 1)
        replayed = sorted(
            r[0] for r in spark.read.parquet(curated).collect()
        )
        assert replayed == landed
