"""Property-based tests (SURVEY §5.4): algebraic identities and
conservation laws checked against independent Python models on
hypothesis-generated inputs. Example counts are kept small — every
example is a Spark job."""

from __future__ import annotations

import pytest

# r15 heavy lane: property/invariant suite (242 s) on the r15 sandbox — runs with
# SPARK_GRAFT_TEST_LANE=full (or -m heavy); see tests/conftest.py.
pytestmark = pytest.mark.heavy

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from helium_etl_lite_spark.etl import fixtures, transforms
from helium_etl_lite_spark.operators.asof_join import asof_join

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

small_ints = st.lists(st.integers(min_value=0, max_value=9), min_size=0, max_size=12)


class TestSetOpAlgebra:
    @SETTINGS
    @given(a=small_ints, b=small_ints)
    def test_set_ops_match_multiset_model(self, spark, a, b):
        da = spark.createDataFrame([(x,) for x in a] or [(None,)], "v int").where(
            F.col("v").isNotNull()
        )
        db = spark.createDataFrame([(x,) for x in b] or [(None,)], "v int").where(
            F.col("v").isNotNull()
        )
        assert da.unionByName(db).count() == len(a) + len(b)
        assert {r["v"] for r in da.union(db).distinct().collect()} == set(a) | set(b)
        assert {r["v"] for r in da.intersect(db).collect()} == set(a) & set(b)
        got_except = Counter(r["v"] for r in da.exceptAll(db).collect())
        assert got_except == Counter(a) - Counter(b)


class TestPipelineConservation:
    @SETTINGS
    @given(seed=st.integers(min_value=0, max_value=10_000))
    def test_explode_conservation_any_seed(self, spark, seed):
        import json

        blocks, txns = fixtures.make_chain(spark, first_block=500, n_blocks=35, seed=seed)
        out = transforms.build_outputs("rewards", blocks, txns)["rewards"]
        expected = sum(
            len(json.loads(r["fields"])["rewards"])
            for r in txns.where(F.col("type") == "rewards_v2").collect()
        )
        assert out.count() == expected

    @SETTINGS
    @given(seed=st.integers(min_value=0, max_value=10_000))
    def test_filters_output_subset_of_rewards(self, spark, seed):
        blocks, txns = fixtures.make_chain(spark, first_block=500, n_blocks=35, seed=seed)
        filters = fixtures.make_filters(spark)
        full = transforms.build_outputs("rewards", blocks, txns)["rewards"]
        filt = transforms.build_outputs("filters", blocks, txns, filters)["rewards"]
        assert filt.exceptAll(full).count() == 0


class TestAsofModel:
    @SETTINGS
    @given(
        left=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=8
        ),
        right=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=8
        ),
    )
    def test_asof_matches_python_model(self, spark, left, right):
        left_rows = [(i, k, ts) for i, (k, ts) in enumerate(left)]
        right_rows = [(k, ts, i) for i, (k, ts) in enumerate(right)]
        ldf = spark.createDataFrame(left_rows, "id long, key long, ts long")
        rdf = spark.createDataFrame(
            right_rows or [(None, None, None)], "key long, ts long, val long"
        ).where(F.col("key").isNotNull())
        out = asof_join(
            ldf, rdf, left_id="id", left_on="key", right_on="key",
            left_ts="ts", right_ts="ts", right_tiebreak="val",
        )
        got = {r["id"]: r["val"] for r in out.collect()}

        def model(k, ts):
            cands = [(rts, v) for (rk, rts, v) in right_rows if rk == k and rts <= ts]
            return max(cands)[1] if cands else None

        want = {i: model(k, ts) for i, k, ts in left_rows}
        assert got == want
        assert out.count() == len(left_rows)  # exactly one output row per left row


class TestScaleOpEquivalence:
    @SETTINGS
    @given(
        facts=st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=0, max_size=20
        ),
        dims=st.lists(st.integers(0, 5), min_size=0, max_size=6, unique=True),
        n_salts=st.integers(1, 6),
    )
    def test_salted_join_equals_plain_join(self, spark, facts, dims, n_salts):
        from helium_etl_lite_spark.operators.scale import salted_join

        f = spark.createDataFrame(facts or [(None, None)], "k int, v int").where(
            F.col("k").isNotNull()
        )
        d = spark.createDataFrame([(k, k * 10) for k in dims] or [(None, None)],
                                  "k int, w int").where(F.col("k").isNotNull())
        plain = sorted((r["k"], r["v"], r["w"]) for r in f.join(d, "k").collect())
        salted = sorted(
            (r["k"], r["v"], r["w"])
            for r in salted_join(f, d, "k", n_salts=n_salts).collect()
        )
        assert salted == plain

    @SETTINGS
    @given(
        points=st.lists(st.integers(0, 50), min_size=0, max_size=15),
        intervals=st.lists(
            st.tuples(st.integers(0, 50), st.integers(0, 20)), min_size=0, max_size=8
        ),
        bin_width=st.sampled_from([1.0, 3.0, 7.0, 100.0]),
    )
    def test_binned_range_join_equals_theta_join(self, spark, points, intervals, bin_width):
        from helium_etl_lite_spark.operators.scale import binned_range_join

        p = spark.createDataFrame(
            [(i, float(x)) for i, x in enumerate(points)] or [(None, None)],
            "pid int, pt double",
        ).where(F.col("pid").isNotNull())
        iv = spark.createDataFrame(
            [(i, float(lo), float(lo + w)) for i, (lo, w) in enumerate(intervals)]
            or [(None, None, None)],
            "iid int, lo double, hi double",
        ).where(F.col("iid").isNotNull())
        theta = sorted(
            (r["pid"], r["iid"])
            for r in p.join(iv, (F.col("pt") >= F.col("lo")) & (F.col("pt") <= F.col("hi"))).collect()
        )
        binned = sorted(
            (r["pid"], r["iid"])
            for r in binned_range_join(p, iv, "pt", "lo", "hi", bin_width).collect()
        )
        assert binned == theta


class TestScaleOperatorEquivalence:
    @SETTINGS
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        n=st.integers(min_value=2, max_value=40),
        n_blocks=st.integers(min_value=1, max_value=7),
        threshold=st.sampled_from([-1.0, 0.0, 0.3, 0.9]),
    )
    def test_blocked_cosine_pairs_equal_brute_force(self, spark, seed, n, n_blocks, threshold):
        # cosine_pairs_blocked must return EXACTLY the brute-force pair
        # set for any corpus, block count and threshold (including -1.0
        # = all pairs) — blocking is a physical rewrite, not a heuristic.
        import random

        from helium_etl_lite_spark.operators.knn import cosine, cosine_pairs_blocked

        rng = random.Random(seed)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(n)]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            (r["vec_a"], r["vec_b"], r["cos_sim"])
            for r in cosine_pairs_blocked(
                vecs, threshold=threshold, n_blocks=n_blocks, n_tasks=8
            ).collect()
        }
        a = vecs.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
        b = vecs.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
        want = {
            (r["vec_a"], r["vec_b"], r["cos_sim"])
            for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
            .select(
                "vec_a", "vec_b",
                F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim"),
            )
            .where(F.col("cos_sim") >= threshold)
            .collect()
        }
        assert got == want

    @SETTINGS
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        n=st.integers(min_value=2, max_value=40),
        n_blocks=st.integers(min_value=1, max_value=7),
        threshold=st.sampled_from([-1.0, 0.0, 0.3, 0.9]),
    )
    def test_blocked_cosine_np_kernel_bit_identical(self, spark, seed, n, n_blocks, threshold):
        # The numpy kernel twin must be BIT-identical to the JVM form —
        # same pairs AND same rounded values — for any corpus, block
        # count and threshold. Sequential accumulation + JVM-side
        # rounding make this an equality, not an approximation.
        import random

        from helium_etl_lite_spark.operators.knn import (
            cosine_pairs_blocked,
            cosine_pairs_blocked_np,
        )

        rng = random.Random(seed)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(n)]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        jvm = {
            (r["vec_a"], r["vec_b"], r["cos_sim"])
            for r in cosine_pairs_blocked(
                vecs, threshold=threshold, n_blocks=n_blocks, n_tasks=8
            ).collect()
        }
        np_form = {
            (r["vec_a"], r["vec_b"], r["cos_sim"])
            for r in cosine_pairs_blocked_np(
                vecs, threshold=threshold, n_blocks=n_blocks
            ).collect()
        }
        assert np_form == jvm

    @SETTINGS
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        n=st.integers(min_value=1, max_value=60),
        n_tiles=st.sampled_from([2, 3, 10]),
        bucket_width=st.sampled_from([1, 7, 100]),
    )
    def test_distributed_ntile_equals_spark_ntile(self, spark, seed, n, n_tiles, bucket_width):
        # distributed_ntile must reproduce ntile(n) OVER (ORDER BY v, id)
        # bit-for-bit for any data (heavy ties included), tile count and
        # bucket width — including bucket_width=1 (every id its own
        # window partition) and widths larger than the id range.
        import random

        from pyspark.sql import Window

        from helium_etl_lite_spark.operators.scale import distributed_ntile

        rng = random.Random(seed)
        rows = [(i, rng.randint(0, 5)) for i in range(n)]  # heavy ties in v
        df = spark.createDataFrame(rows, "id long, v long")
        got = {
            (r["id"], r["tile"])
            for r in distributed_ntile(
                df, "v", "id", n_tiles=n_tiles, bucket_width=bucket_width
            ).collect()
        }
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        want = {
            (r["id"], r["t"])
            for r in df.withColumn("t", F.ntile(n_tiles).over(w)).collect()
        }
        assert got == want


FUZZ_SETTINGS = settings(max_examples=300, deadline=None)  # pure Python, cheap


class TestDecoderRobustness:
    @FUZZ_SETTINGS
    @given(data=st.binary(min_size=0, max_size=200))
    def test_decode_image_never_crashes_on_fuzz(self, data):
        # decode_image must return a dict, None, or raise ValueError —
        # never an unhandled IndexError/struct.error/infinite loop — on
        # arbitrary bytes (a corrupted-payload batch must fail cleanly,
        # not kill the executor kernel).
        from helium_etl_lite_spark.operators.multimodal import decode_image

        try:
            out = decode_image(data)
        except ValueError:
            return
        assert out is None or isinstance(out, dict)

    @FUZZ_SETTINGS
    @given(data=st.binary(min_size=0, max_size=200))
    def test_decode_image_never_crashes_on_magic_prefix_fuzz(self, data):
        from helium_etl_lite_spark.operators.multimodal import decode_image

        for magic in (b"P6\n", b"P5\n", b"BM"):
            try:
                out = decode_image(magic + data)
            except ValueError:
                continue
            assert out is None or isinstance(out, dict)


class TestChunkSplitProperties:
    def test_chunks_cover_all_tokens_with_fixed_overlap(self, spark):
        # Every token index appears in >=1 chunk; consecutive chunks
        # overlap by exactly chunk-stride tokens; reassembling stride
        # prefixes reproduces the document.
        import pyspark.sql.functions as F

        from helium_etl_lite_spark import registry

        registry.load_all()
        texts = [
            (1, " ".join(f"t{i}" for i in range(200))),
            (2, " ".join(f"u{i}" for i in range(48))),   # exactly one stride
            (3, " ".join(f"v{i}" for i in range(49))),   # crosses one boundary
            (4, "single"),
        ]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        docs.createOrReplaceTempView("documents")
        # call the underlying logic via the registered query machinery:
        # rebuild the frame on our docs by monkey-loading is overkill —
        # reuse the expressions through a local copy of the operator
        toks = F.split(F.col("text"), " ")
        starts = F.filter(
            F.sequence(F.lit(0), F.size(toks), F.lit(48)),
            lambda x: x < F.greatest(F.size(toks) - 1, F.lit(1)),
        )
        out = docs.select(
            "doc_id", toks.alias("t"), F.explode(starts).alias("start_tok")
        ).select(
            "doc_id",
            "start_tok",
            F.least(F.lit(64), F.size("t") - F.col("start_tok")).alias("n_toks"),
            F.slice("t", F.col("start_tok") + 1, 64).alias("chunk"),
        ).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        lens = {d: len(t.split(" ")) for d, t in texts}
        for doc_id, rows in by_doc.items():
            rows.sort(key=lambda r: r["start_tok"])
            n = lens[doc_id]
            covered = set()
            for r in rows:
                assert r["n_toks"] == len(r["chunk"])
                covered.update(range(r["start_tok"], r["start_tok"] + r["n_toks"]))
            assert covered == set(range(n)), f"doc {doc_id} gap"
            # stride discipline: starts are 0, 48, 96, ...
            assert [r["start_tok"] for r in rows] == list(range(0, max(n - 1, 1), 48))
            # reassembly: stride-prefix of each chunk + full tail == doc
            rebuilt = []
            for r in rows[:-1]:
                rebuilt.extend(r["chunk"][:48])
            rebuilt.extend(rows[-1]["chunk"])
            assert rebuilt == texts[doc_id - 1][1].split(" ")


class TestHashedClassifierProperties:
    def test_score_bounded_and_deterministic(self, spark):
        import pyspark.sql.functions as F

        from helium_etl_lite_spark import registry

        registry.load_all()
        fn = registry.QUERIES["text_quality_classifier_hashed"]
        out1 = {r["doc_id"]: r for r in fn(spark, "/root/testdata/sf0.001").collect()}
        out2 = {r["doc_id"]: r for r in fn(spark, "/root/testdata/sf0.001").collect()}
        assert out1.keys() == out2.keys()
        for k in out1:
            # mean of weights in [-524288, 524287] / 1048576 => |score| <= 0.5
            assert abs(out1[k]["quality_score"]) <= 0.5
            assert out1[k]["quality_score"] == out2[k]["quality_score"]


class TestBudgetControlPlaneProperties:
    @SETTINGS
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=400),      # id (dup-free below)
                st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),  # score
                st.integers(min_value=0, max_value=7),        # weight
            ),
            min_size=1,
            max_size=60,
            unique_by=lambda t: t[0],
        ),
        budget=st.integers(min_value=0, max_value=80),
        bucket_width=st.sampled_from([1, 3, 100]),
    )
    def test_matches_single_partition_window(self, spark, rows, budget, bucket_width):
        # The two-level control plane must equal the partition-less
        # window form on ANY input: null scores, duplicate scores,
        # zero weights, zero budget, bucket boundaries.
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from helium_etl_lite_spark.operators import scale

        df = spark.createDataFrame(rows, "id long, score long, w long")
        got = {
            (r["id"], r["cum_weight"])
            for r in scale.select_token_budget(
                df, "score", "id", "w", budget=budget, bucket_width=bucket_width
            ).collect()
        }
        win = Window.orderBy(
            F.col("score").desc_nulls_last(), F.col("id").asc()
        ).rowsBetween(Window.unboundedPreceding, 0)
        want = {
            (r["id"], r["c"])
            for r in df.withColumn("c", F.sum("w").over(win))
            .where(F.col("c") <= budget)
            .collect()
        }
        assert got == want

    @SETTINGS
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=400),
                st.one_of(st.none(), st.integers(min_value=-4, max_value=4)),
            ),
            min_size=1,
            max_size=50,
            unique_by=lambda t: t[0],
        ),
        n_tiles=st.sampled_from([1, 2, 5]),
        bucket_width=st.sampled_from([1, 3, 100]),
    )
    def test_ntile_matches_single_partition_window(
        self, spark, rows, n_tiles, bucket_width
    ):
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from helium_etl_lite_spark.operators import scale

        df = spark.createDataFrame(rows, "id long, v long")
        got = {
            (r["id"], r["tile"])
            for r in scale.distributed_ntile(
                df, "v", "id", n_tiles=n_tiles, bucket_width=bucket_width
            ).collect()
        }
        win = Window.orderBy(F.col("v").asc_nulls_first(), F.col("id").asc())
        want = {
            (r["id"], r["t"])
            for r in df.withColumn("t", F.ntile(n_tiles).over(win)).collect()
        }
        assert got == want


class TestGroupedControlPlaneEquivalence:
    """grouped_row_number / grouped_ntile (r6 verdict item 1: the
    low-cardinality-window killers) must equal the plain window forms
    on ANY input — null groups, duplicate order values, groups smaller
    than n_tiles, bucket boundaries."""

    grouped_rows = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),          # unique id
            st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),  # group
            st.integers(min_value=-6, max_value=6),           # order value
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    )

    @SETTINGS
    @given(rows=grouped_rows, bin_width=st.sampled_from([1, 3, 100]))
    def test_grouped_row_number_matches_window(self, spark, rows, bin_width):
        from pyspark.sql import Window

        from helium_etl_lite_spark.operators import scale

        df = spark.createDataFrame(rows, "id long, g string, v long")
        got = {
            (r["id"], r["rn"])
            for r in scale.grouped_row_number(
                df,
                ["g"],
                F.floor(F.col("v") / bin_width),
                [F.col("v").asc(), F.col("id").asc()],
            ).collect()
        }
        win = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
        want = {
            (r["id"], r["rn"])
            for r in df.withColumn("rn", F.row_number().over(win)).collect()
        }
        assert got == want

    @SETTINGS
    @given(
        rows=grouped_rows,
        n_tiles=st.sampled_from([1, 2, 8]),
        bin_width=st.sampled_from([1, 3, 100]),
    )
    def test_grouped_ntile_matches_window(self, spark, rows, n_tiles, bin_width):
        from pyspark.sql import Window

        from helium_etl_lite_spark.operators import scale

        df = spark.createDataFrame(rows, "id long, g string, v long")
        got = {
            (r["id"], r["tile"])
            for r in scale.grouped_ntile(
                df,
                ["g"],
                F.floor(-F.col("v") / bin_width),  # monotone along v DESC
                [F.col("v").desc(), F.col("id").asc()],
                n_tiles=n_tiles,
            ).collect()
        }
        win = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id").asc())
        want = {
            (r["id"], r["t"])
            for r in df.withColumn("t", F.ntile(n_tiles).over(win)).collect()
        }
        assert got == want


class TestIntervalOverlapEquivalence:
    @SETTINGS
    @given(
        a=st.lists(
            st.tuples(st.integers(-20, 40), st.integers(0, 12)),
            min_size=0, max_size=12,
        ),
        b=st.lists(
            st.tuples(st.integers(-20, 40), st.integers(0, 12)),
            min_size=0, max_size=12,
        ),
        bin_width=st.sampled_from([1, 4, 100]),
    )
    def test_binned_overlap_equals_theta_join(self, spark, a, b, bin_width):
        # The claiming-bin dedup must emit every overlapping pair
        # EXACTLY once for any interval layout (nested, identical,
        # touching endpoints, negative bounds) and any bin width.
        from helium_etl_lite_spark.operators.scale import (
            binned_interval_overlap_join,
        )

        la = [(i, lo, lo + ln) for i, (lo, ln) in enumerate(a)]
        lb = [(i, lo, lo + ln) for i, (lo, ln) in enumerate(b)]
        da = spark.createDataFrame(la or [(None,) * 3], "a_id long, a_lo long, a_hi long").where(F.col("a_id").isNotNull())
        db = spark.createDataFrame(lb or [(None,) * 3], "b_id long, b_lo long, b_hi long").where(F.col("b_id").isNotNull())
        got = sorted(
            (r["a_id"], r["b_id"])
            for r in binned_interval_overlap_join(
                da, db, "a_lo", "a_hi", "b_lo", "b_hi", bin_width
            ).collect()
        )
        want = sorted(
            (ia, ib)
            for ia, alo, ahi in la
            for ib, blo, bhi in lb
            if alo <= bhi and blo <= ahi
        )
        assert got == want


class TestCountMinGuarantee:
    @SETTINGS
    @given(
        vals=st.lists(st.integers(0, 30), min_size=1, max_size=60),
        width=st.sampled_from([4, 16]),
    )
    def test_estimate_never_undercounts_and_matches_model(self, spark, vals, width):
        # The one-sided CMS guarantee must hold in the COLLISION regime
        # (width far below key cardinality): estimate >= exact for every
        # key, and the DataFrame form must equal an independent Python
        # model of the same cells (min over depth rows of cell sums).
        from collections import Counter

        from helium_etl_lite_spark.queries.aggregates import cms_pairs

        depth = 3
        df = spark.createDataFrame([(str(v),) for v in vals], "k string")
        table = (
            df.select(F.explode(cms_pairs(F.col("k"), depth, width)).alias("rc"))
            .groupBy("rc.row", "rc.col")
            .agg(F.count(F.lit(1)).alias("cell"))
        )
        probe = (
            df.distinct()
            .select("k", F.explode(cms_pairs(F.col("k"), depth, width)).alias("rc"))
            .select("k", "rc.row", "rc.col")
        )
        got = {
            r["k"]: r["est"]
            for r in probe.join(table, ["row", "col"])
            .groupBy("k")
            .agg(F.min("cell").alias("est"))
            .collect()
        }
        exact = Counter(str(v) for v in vals)
        # model the cells with Spark's own hashes (collected once)
        cells = {}
        hashes = {
            (r["k"], r["rc"]["row"]): r["rc"]["col"]
            for r in df.distinct()
            .select("k", F.explode(cms_pairs(F.col("k"), depth, width)).alias("rc"))
            .collect()
        }
        for k, n in exact.items():
            for r in range(depth):
                cells[(r, hashes[(k, r)])] = cells.get((r, hashes[(k, r)]), 0) + n
        for k, n in exact.items():
            model = min(cells[(r, hashes[(k, r)])] for r in range(depth))
            assert got[k] == model, k
            assert got[k] >= n, k


def test_integer_div_trunc_semantics_agree_cross_engine(spark):
    """r8 ADVICE suspected ts_ewma_portable/pagerank_portable diverge
    on negative operands because DuckDB // would floor-divide. It does
    not: BOTH engines truncate toward zero and keep % sign-of-dividend,
    so integer recurrences fold identically for ANY sign. Pin the EWMA
    fold itself on a negative-cents (refund) fixture."""
    import duckdb

    vals = [-701, 353, -9, 0, 48, -1250, 7]  # cents, mixed sign
    # direct operator-semantics pin
    s = spark.sql(
        "SELECT -7 div 2 AS d, -7 % 2 AS m, 7 div -2 AS d2"
    ).first()
    dk = duckdb.sql("SELECT -7 // 2 AS d, -7 % 2 AS m, 7 // -2 AS d2").fetchone()
    assert (s["d"], s["m"], s["d2"]) == dk == (-3, -1, -3)

    # the registered query's exact fold, both engines, negative input
    arr = ", ".join(str(v) for v in vals)
    got_spark = spark.sql(
        f"SELECT aggregate(slice(array({arr}L), 2, {len(vals) - 1}), "
        f"array({arr}L)[0], (acc, x) -> (x + 3L * acc) div 4L) AS e"
    ).first()["e"]
    got_duck = duckdb.sql(
        f"SELECT list_reduce([{arr}], (acc, x) -> (x + 3 * acc) // 4) AS e"
    ).fetchone()[0]
    ref = vals[0]
    for x in vals[1:]:
        ref = int((x + 3 * ref) / 4) if (x + 3 * ref) >= 0 else -((-(x + 3 * ref)) // 4)
    assert got_spark == got_duck == ref


class TestSubstringAnchorGuarantee:
    """The documented bound of substring_anchor_dedup: ANY duplicated
    passage of >= span_len + w - 1 tokens, at ANY offset pair, loses
    >= span_len tokens from the later copy — property-tested across
    random lengths/offsets (the 10-residue fixture in test_operators
    pins the grid-blindspot case deterministically)."""

    @SETTINGS
    @given(
        plen=st.integers(min_value=54, max_value=75),
        off_a=st.integers(min_value=0, max_value=25),
        off_b=st.integers(min_value=0, max_value=25),
        tail_b=st.integers(min_value=0, max_value=15),
    )
    def test_any_alignment_pair_detected(self, spark, plen, off_a, off_b, tail_b):
        from helium_etl_lite_spark.operators.dedup import substring_anchor_dedup

        passage = [f"p{i}" for i in range(plen)]
        a = [f"a{i}" for i in range(off_a)] + passage + ["a_end"]
        b = [f"b{i}" for i in range(off_b)] + passage + [
            f"z{i}" for i in range(tail_b)
        ]
        docs = spark.createDataFrame(
            [(1, " ".join(a)), (2, " ".join(b))], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in
               substring_anchor_dedup(docs).collect()}
        # first occurrence fully intact (all its spans are rank 1)
        assert out[1]["n_tokens_kept"] == len(a)
        kept_b = out.get(2)
        n_kept = kept_b["n_tokens_kept"] if kept_b is not None else 0
        assert len(b) - n_kept >= 50, (plen, off_a, off_b, tail_b, n_kept)


class TestKMVMergeability:
    """The theta-sketch claim the registered query rides: the k
    smallest hashes of A ∪ B are computable from the two k-smallest
    lists alone (union of sketches == sketch of the union) — checked
    against brute force over random sets, pure Python (the same md5-32
    hash the query uses)."""

    @SETTINGS
    @given(
        a=st.sets(st.integers(min_value=0, max_value=5000), min_size=1,
                  max_size=300),
        b=st.sets(st.integers(min_value=0, max_value=5000), min_size=1,
                  max_size=300),
        k=st.sampled_from([4, 16, 64]),
    )
    def test_union_of_sketches_is_sketch_of_union(self, a, b, k):
        import hashlib

        h = lambda x: int(hashlib.md5(str(x).encode()).hexdigest()[:8], 16)
        ka = sorted({h(x) for x in a})[:k]
        kb = sorted({h(x) for x in b})[:k]
        merged = sorted(set(ka) | set(kb))[:k]
        direct = sorted({h(x) for x in a | b})[:k]
        assert merged == direct


class TestWordPieceGreedyProperty:
    """text_tokenize_wordpiece vs an INDEPENDENT Python reimplementation
    of greedy longest-match-first — a third perspective beside the
    Spark plan and the recursive-CTE DuckDB oracle (which share the
    steps-table formulation; this one doesn't)."""

    def _python_wordpiece(self, texts):
        from collections import Counter

        words = Counter(w for t in texts for w in t.split(" "))
        # vocab: all single chars per continuation class; multi-char
        # pieces (2..4) whose occurrence weight reaches 5
        weight = Counter()
        singles = set()
        for w, wc in words.items():
            for p in range(len(w)):
                is_cont = p > 0
                singles.add((w[p], is_cont))
                for ln in range(2, 5):
                    if p + ln <= len(w):
                        weight[(w[p : p + ln], is_cont)] += wc
        vocab = singles | {k for k, v in weight.items() if v >= 5}
        n_pieces = {}
        for w in words:
            pos, n = 0, 0
            while pos < len(w):
                step = 1
                for ln in (4, 3, 2):
                    if pos + ln <= len(w) and (w[pos : pos + ln], pos > 0) in vocab:
                        step = ln
                        break
                pos += step
                n += 1
            n_pieces[w] = n
        return words, n_pieces

    def test_matches_python_greedy(self, spark, sf_dir):
        from helium_etl_lite_spark import registry

        registry.load_all()
        got = {
            r["doc_id"]: (r["n_words"], r["n_pieces"])
            for r in registry.QUERIES["text_tokenize_wordpiece"](
                spark, sf_dir
            ).collect()
        }
        import duckdb

        docs = duckdb.sql(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
        _, n_pieces = self._python_wordpiece([t for _, t in docs])
        for doc_id, text in docs:
            ws = text.split(" ")
            want = (len(ws), sum(n_pieces.get(w, 0) for w in ws))
            assert got[doc_id] == want, f"doc {doc_id}: {got[doc_id]} != {want}"

    def test_piece_count_bounds(self, spark, sf_dir):
        import duckdb

        from helium_etl_lite_spark import registry

        registry.load_all()
        rows = registry.QUERIES["text_tokenize_wordpiece"](spark, sf_dir).collect()
        # per doc: pieces >= NON-EMPTY words (empty-string tokens from
        # adjacent spaces legitimately yield 0 pieces while still
        # counting as words — review find: the earlier n_pieces >=
        # n_words form would fail on such fixture data even though the
        # query is correct).
        nonempty = {
            r[0]: r[1]
            for r in duckdb.sql(f"""
                SELECT doc_id,
                       len(list_filter(string_split(text, ' '),
                                       w -> length(w) >= 1)) AS ne
                FROM '{sf_dir}/documents.parquet'
            """).fetchall()
        }
        for r in rows:
            assert r["n_pieces"] >= nonempty[r["doc_id"]]


class TestBigramBackoffCoverage:
    def test_backoff_branch_fires_and_stays_exact(self, spark, tmp_path):
        """The fixture corpus's vocabulary is so small that held-out
        bigrams are almost always train-seen (0 unseen at sf0.001, 1 at
        sf0.01) — so this test plants a corpus where the backoff branch
        MUST fire (held-out doc 0 contains both an unseen-bigram pair of
        seen words and an OOV word) and proves the Spark query and the
        DuckDB oracle still agree exactly there."""
        import duckdb

        from helium_etl_lite_spark import registry

        registry.load_all()
        rows = [
            # doc 0 = held-out: "beta alpha" reverses a train-seen
            # bigram (backoff w/ seen unigrams) and "zzz" is OOV
            (0, "beta alpha zzz alpha", "en", "s", 20),
            (1, "alpha beta alpha beta gamma", "en", "s", 27),
            (2, "alpha beta gamma delta", "en", "s", 22),
            (3, "gamma delta alpha beta", "en", "s", 22),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        d = str(tmp_path / "bgk")
        df.coalesce(1).write.parquet(d + "/documents.parquet")
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
            for r in registry.QUERIES["text_perplexity_bigram"](spark, d).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
        )
        want = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                registry.ORACLES["text_perplexity_bigram"]
            ).fetchall()
        }
        assert got == want and 0 in got
        # and the backoff value is visible: nll for doc 0 must exceed
        # the pure-MLE regime's maximum possible avg (ln of the LM's
        # smallest conditional is bounded; an OOV floor term dominates)
        assert got[0][1] > 1.0


class TestKneserNeyCoverage:
    def test_all_three_branches_fire_and_stay_exact(self, spark, tmp_path):
        """Planted corpus exercising every KN branch in the held-out
        doc: a train-SEEN bigram (discounted ML + interpolation mass),
        an UNSEEN bigram whose context IS seen (pure lambda * Pcont),
        and an unseen CONTEXT (OOV w1 -> pure continuation floor) —
        Spark and DuckDB must agree exactly on all of them, and KN's
        defining property must hold: the unseen bigram scores strictly
        between the seen bigram and the OOV-context floor."""
        import duckdb
        import math

        from helium_etl_lite_spark import registry

        registry.load_all()
        rows = [
            # held-out doc 0 bigrams: (alpha,beta) train-SEEN;
            # (beta,alpha) unseen bigram, SEEN context; (alpha,zzz)
            # unseen continuation, seen context; (zzz,alpha) OOV context
            (0, "alpha beta alpha zzz alpha", "en", "s", 25),
            # train: big = {(alpha,beta):3, (beta,gamma):1,
            # (beta,delta):1, (gamma,alpha):1}; B=4 types, Vc=4
            (1, "alpha beta gamma", "en", "s", 16),
            (2, "alpha beta delta", "en", "s", 16),
            (3, "gamma alpha beta", "en", "s", 16),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        d = str(tmp_path / "knk")
        df.coalesce(1).write.parquet(d + "/documents.parquet")
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
            for r in registry.QUERIES["text_perplexity_kneser_ney"](
                spark, d
            ).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
        )
        want = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                registry.ORACLES["text_perplexity_kneser_ney"]
            ).fetchall()
        }
        assert got == want and got[0][0] == 4
        # hand model from the planted counts: pcont = (n1bw+1)/9
        pcont_alpha = 2 / 9   # N1+(.,alpha)=1
        pcont_beta = 2 / 9    # N1+(.,beta)=1
        pcont_zzz = 1 / 9     # OOV continuation -> add-one floor
        # ctx alpha: c1dot=3, n1fw=1; ctx beta: c1dot=2, n1fw=2
        p_seen = (3 - 0.75) / 3 + (0.75 * 1 / 3) * pcont_beta
        p_unseen_seen_ctx = (0.75 * 2 / 2) * pcont_alpha
        p_unseen_cont = (0.75 * 1 / 3) * pcont_zzz
        p_oov_ctx = pcont_alpha
        # KN's defining ordering: seen >> unseen-with-seen-context,
        # and every branch stays finite
        assert p_seen > p_unseen_seen_ctx > p_unseen_cont > 0
        hand = -(
            math.log(p_seen)
            + math.log(p_unseen_seen_ctx)
            + math.log(p_unseen_cont)
            + math.log(p_oov_ctx)
        ) / 4
        assert abs(got[0][1] - round(hand, 6)) < 2e-6, (got[0][1], hand)


class TestModifiedKNCoverage:
    def test_all_smoothing_branches_fire_and_stay_exact(self, spark, tmp_path):
        """Planted corpus exercising every modified-KN branch in the
        held-out doc: trigrams in all three discount buckets (count
        1 / 2 / >=3), an unseen trigram whose CONTEXT is seen (trigram
        gamma * lower), unseen trigram contexts falling to the
        continuation-bigram model on both its seen path (cb=1 and the
        cb=2 bucket) and its gamma path, and full fall-through to the
        add-one unigram-continuation floor — Spark and DuckDB must
        agree exactly on the per-doc result."""
        import duckdb

        from helium_etl_lite_spark import registry

        registry.load_all()
        rows = [
            # held-out doc 0 trigram stream (16 trigrams) hits, in
            # order: (a,b,c) c=3 -> D3+ bucket; (b,c,d) c=1 -> D1;
            # (c,d,q)/(d,q,x)/(q,x,y) unseen ctx -> lower, w2 not a
            # continuation context -> pbase floor; (x,y,z) c=2 -> D2;
            # (y,z,w) unseen trigram, SEEN ctx -> gamma3 * lower with
            # (z,w) unseen but z a seen cont-context -> lower gamma;
            # (q,b,c) unseen ctx, (b,c) cont pair cb=1 -> lower seen
            # D1; (k,y,z) unseen ctx, (y,z) cont pair cb=2 -> lower
            # seen D2.
            (0, "a b c d q x y z w a q q b c d k y z", "en", "s", 36),
            # train: (a,b,c) x3 (docs 1-3), (x,y,z) x2 (docs 4-5),
            # singles (b,c,d)/(b,c,e)/(b,c,f)/(y,z,y)/(z,y,z)/(y,z,q);
            # cont pairs: (y,z) has distinct w1 {x,z} -> cb=2, rest 1
            (1, "a b c d", "en", "s", 7),
            (2, "a b c e", "en", "s", 7),
            (3, "a b c f", "en", "s", 7),
            (4, "x y z y z", "en", "s", 9),
            (5, "x y z q", "en", "s", 7),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        d = str(tmp_path / "mkn")
        df.coalesce(1).write.parquet(d + "/documents.parquet")
        got = {
            r["doc_id"]: (r["n_trigrams"], r["avg_nll"])
            for r in registry.QUERIES["text_perplexity_modified_kn"](
                spark, d
            ).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
        )
        want = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                registry.ORACLES["text_perplexity_modified_kn"]
            ).fetchall()
        }
        assert got == want and got[0][0] == 16
        assert got[0][1] > 0
        # pin the planted statistics the branch claims above rest on:
        # trigram counts hit all three discount buckets, and the
        # continuation table has both a cb=1 and the cb=2 pair (y,z)
        from pyspark.sql import functions as F

        tr = spark.read.parquet(d + "/documents.parquet").where(
            F.col("doc_id") % 10 != 0
        )
        tgs = tr.select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(split(text,' ')) - 1), "
                    "i -> struct(split(text,' ')[i-2] AS w1, "
                    "split(text,' ')[i-1] AS w2, split(text,' ')[i] AS w3))"
                )
            ).alias("s")
        ).select("s.w1", "s.w2", "s.w3")
        big3 = tgs.groupBy("w1", "w2", "w3").count()
        buckets = {r["count"] for r in big3.collect()}
        assert {1, 2, 3} <= buckets
        cont = big3.groupBy("w2", "w3").count()
        cbs = {(r["w2"], r["w3"]): r["count"] for r in cont.collect()}
        assert cbs[("y", "z")] == 2 and 1 in set(cbs.values())


class TestShardManifestProperties:
    def test_partition_invariance_and_totals(self, spark, sf_dir):
        """The manifest is a pure function of the data: identical under
        input repartitioning (the permutation comes from the hash key,
        not physical order), covers every doc exactly once, and uses
        all 16 shards at this corpus size."""
        from helium_etl_lite_spark import registry
        from helium_etl_lite_spark.tables import Tables

        registry.load_all()
        fn = registry.QUERIES["corpus_shard_manifest"]
        base = {r["shard_id"]: r.asDict() for r in fn(spark, sf_dir).collect()}
        n_docs = Tables(spark, sf_dir).documents.count()
        assert sum(r["n_docs"] for r in base.values()) == n_docs
        assert len(base) == 16
        # determinism probe: a second run (separate plan, hence separate
        # physical partitioning decisions) must agree exactly
        again = {r["shard_id"]: r.asDict() for r in fn(spark, sf_dir).collect()}
        assert base == again

    def test_shard_key_not_degenerate(self, spark, sf_dir):
        """r11 ADVICE: the original Knuth-mix shard key collapsed to
        doc_id % 16 (2654435761 === 1 mod 16 under the pre-mix fold).
        Pin that the avalanche key actually mixes: the fraction of docs
        whose shard equals doc_id % 16 must sit near the 1/16 chance
        rate, nowhere near the degenerate 1.0."""
        from pyspark.sql import functions as F
        from helium_etl_lite_spark.tables import Tables

        docs = Tables(spark, sf_dir).documents
        m = F.lit(2147483648).cast("long")
        x0 = F.shiftright(F.col("doc_id"), 31).bitwiseXOR(F.col("doc_id") % m)
        x1 = (x0 * F.lit(2654435761).cast("long")) % m
        y1 = x1.bitwiseXOR(F.shiftright(x1, 15))
        x2 = (y1 * F.lit(1597334677).cast("long")) % m
        h = x2.bitwiseXOR(F.shiftright(x2, 13))
        frac = (
            docs.select(
                ((F.shiftright(h, 27) % 16) == (F.col("doc_id") % 16))
                .cast("int")
                .alias("same")
            )
            .agg(F.avg("same"))
            .collect()[0][0]
        )
        assert frac < 0.2, f"shard key degenerated: {frac:.3f} coincide"


class TestUrlPiiIdempotence:
    """Normalizers must be fixed points on their own output: a second
    canonicalization/redaction pass changes nothing — the property that
    lets a 100 TB pipeline re-run these stages safely on partially
    processed data."""

    def test_url_canonicalize_idempotent(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from helium_etl_lite_spark.operators import url as U
        from helium_etl_lite_spark.tables import Tables

        docs = Tables(spark, sf_dir).documents.select("doc_id")
        edges = spark.createDataFrame(
            [(100001, "HTTP://X.COM:80/?utm_source=a#f"),
             (100002, "https://a.b.c:8080"),
             (100003, "http://h.io:443/p?id=1&utm_x=2&q=3")],
            "doc_id long, url string",
        )
        wrapped = U.url_wrap(docs).select("doc_id", "url").unionByName(edges)
        c1 = U.canonical_url(F.col("url"))
        out = wrapped.select(
            c1.alias("c1"), U.canonical_url(c1).alias("c2")
        )
        assert out.where(F.col("c1") != F.col("c2")).count() == 0

    def test_pii_redact_idempotent(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from helium_etl_lite_spark.operators import pii as P
        from helium_etl_lite_spark.tables import Tables

        docs = Tables(spark, sf_dir).documents.select("doc_id", "text")
        planted = P.pii_wrap(docs)
        r1 = P.pii_redact(F.col("text"))
        out = planted.select(r1.alias("r1"), P.pii_redact(r1).alias("r2"))
        assert out.where(F.col("r1") != F.col("r2")).count() == 0
