"""Embedding similarity operators: brute-force cosine top-k, nearest-
centroid assignment, and random-hyperplane LSH ANN.

Design for scale (north star): embeddings are array<float> columns; all
kernels run JVM-side via higher-order functions (zip_with/aggregate) —
no Python in the hot path. Brute-force is the exact baseline
(O(Q x N), broadcast the query side); the LSH variant buckets vectors
by hyperplane sign bits so candidate generation is a hash-partitioned
equi-join at 100 TB instead of a cross join.

Determinism: cosine is rounded to 6 decimals before ranking and ties
break on vec_id, so results are reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..etl.snapshot import STATE, check_construction, commit_state, read_snapshot


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    # Sequential left-to-right accumulation — same order DuckDB uses,
    # so the oracle matches bit-for-bit before rounding.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


ID_COL = "vec_id"
VEC_COL = "embedding"
N_TASKS = 32


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors of each query among `vectors`.

    Queries are broadcast (Q is small) so the O(N·Q) scoring never
    shuffles the big side — but the scoring parallelism is exactly the
    stream side's partition count, and a small parquet table arrives as
    ONE split, so without an explicit repartition the whole cross
    product runs in a single task (r2's +85% bench regression; the same
    defect fixed in vec_dedup in round 1 was never ported here).
    The explicit-count `repartition(N_TASKS)` is a round-robin shuffle
    of just N vector rows — O(N), tiny next to O(N·Q) scoring — and an
    explicit count keeps AQE from coalescing the byte-small but
    CPU-heavy partitions back into one task.
    The final per-query top-k is a window over q_id — Q partitions,
    each tiny.
    """
    v = vectors.select(F.col(ID_COL).alias("vec_id"), _as_double(F.col(VEC_COL)).alias("e"))
    v = v.repartition(N_TASKS)
    q = queries.select(F.col(ID_COL).alias("q_id"), _as_double(F.col(VEC_COL)).alias("qe"))
    pairs = v.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def assign_nearest_centroid(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by squared L2 (broadcast centroids).

    Same single-split hazard as `cosine_topk`: the broadcast join's
    parallelism is the stream side's split count, so repartition the
    vectors before fanning out O(N·C) distance evaluations.
    """
    v = vectors.select(F.col(ID_COL).alias("vec_id"), _as_double(F.col(VEC_COL)).alias("e"))
    v = v.repartition(N_TASKS)
    c = centroids.select(F.col(ID_COL).alias("centroid_id"), _as_double(F.col(VEC_COL)).alias("ce"))
    sq_dist = F.aggregate(
        F.zip_with(F.col("e"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = v.join(F.broadcast(c)).select(
        "vec_id", "centroid_id", F.round(sq_dist, 6).alias("sq_dist")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sq_dist").asc(), F.col("centroid_id").asc())
    return pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


def _plane_coeff(p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1):
    splitmix64-style avalanche of (plane, dim). The earlier Weyl-
    sequence form ((p*100003 + d*10007 + 12345)*K mod 2^32) was nearly
    LINEAR in the plane index — consecutive planes were correlated
    copies, so adding LSH tables stopped improving recall (measured:
    recall@10 plateaued at 0.46 from L=16 to L=24). Full-avalanche
    mixing makes planes independent; no RNG state, reproducible across
    runs and retried tasks."""
    x = (p * 0x9E3779B97F4A7C15 + d * 0xD1B54A32D192ED03 + 0x632BE59BD9B4E019) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    x = x ^ (x >> 31)
    return (x % (1 << 32)) / float(1 << 31) - 1.0


def cosine_pairs_blocked(
    vectors: DataFrame,
    threshold: float,
    n_blocks: int = 16,
    n_tasks: int = 32,
) -> DataFrame:
    """Exact cosine-similarity self-join (all pairs >= threshold) as a
    balanced block-pair equi-join — no nested-loop join anywhere.

    Why not LSH candidates here: banded hyperplane LSH prunes only when
    near-threshold pairs are rare or the threshold is high. Measured on
    this corpus (sf0.01): 719 of 990 qualifying pairs sit in
    [0.30, 0.35) with the minimum at 0.30007, and k-means radii are
    ~80 deg (unclustered sphere) — at arccos(0.3) = 72.5 deg per-plane
    collision probability is 0.597, so any band config with ~zero miss
    probability replicates more than the N^2/2 pairs it avoids. Exact
    low-threshold similarity on unclustered data is intrinsically
    all-pairs; the scalable form is to *balance* it:

    - every vector gets a deterministic block ``blk = xxhash64(id) mod B``;
    - the B(B+1)/2 unordered block pairs (i <= j) are enumerated by
      exploding each vector to its pair keys (left: blk_a = blk,
      blk_b in [blk, B); right: blk_b = blk, blk_a in [0, blk]);
    - a shuffle equi-join on (blk_a, blk_b) lands each block pair in its
      own task: per-task working set is ~2N/B vectors, replication is
      ~B/2 per side — choose B ~ sqrt(cores) so tasks fit memory at any
      corpus size. Norms are computed once per vector BEFORE
      replication, not once per pair.

    For real near-dup thresholds (>= ~0.8) use ann_topk_lsh /
    semantic_dedup_pairs, which are genuinely subquadratic.
    """
    B = n_blocks
    v = vectors.select(
        F.col(ID_COL).alias("vid"),
        _as_double(F.col(VEC_COL)).alias("e"),
        F.pmod(F.xxhash64(F.col(ID_COL)), F.lit(B)).cast("int").alias("blk"),
    ).withColumn("nrm", l2_norm(F.col("e")))
    left = v.select(
        F.col("vid").alias("id_l"), F.col("e").alias("e_l"), F.col("nrm").alias("n_l"),
        F.col("blk").alias("blk_a"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("blk_b"),
    )
    right = v.select(
        F.col("vid").alias("id_r"), F.col("e").alias("e_r"), F.col("nrm").alias("n_r"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("blk_a"),
        F.col("blk").alias("blk_b"),
    )
    # Pin the scoring parallelism: an explicit repartition BY KEY with a
    # user-chosen partition count is exempt from AQE coalescing, which
    # would otherwise fold these byte-tiny but CPU-heavy shuffle
    # partitions into one task. n_blocks >> sqrt(n_tasks) keeps the
    # B(B+1)/2 keys spread evenly over the tasks.
    left = left.repartition(n_tasks, "blk_a", "blk_b")
    # Cross-block pairs meet exactly once in their (min_blk, max_blk)
    # task; same-block pairs meet twice ((x,y) and (y,x)) — keep one.
    joined = left.join(right, ["blk_a", "blk_b"]).where(
        (F.col("blk_a") != F.col("blk_b")) | (F.col("id_l") < F.col("id_r"))
    )
    scored = joined.select(
        F.least("id_l", "id_r").alias("vec_a"),
        F.greatest("id_l", "id_r").alias("vec_b"),
        # dot/(sqrt*sqrt) in the same operation order as the DuckDB
        # oracle so 6-decimal rounding matches bit-for-bit.
        F.round(dot(F.col("e_l"), F.col("e_r")) / (F.col("n_l") * F.col("n_r")), 6).alias(
            "cos_sim"
        ),
    )
    return scored.where(F.col("cos_sim") >= threshold)


def lloyd_refine(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """One distributed Lloyd iteration: assign every vector to its
    nearest centroid, then recompute each centroid as the element-wise
    mean of its members.

    The mean is a posexplode → groupBy(centroid, pos) avg → re-assemble,
    i.e. two hash aggregations — fully partial-aggregated map-side, no
    driver-side math, so a 100 TB corpus refines with one shuffle of
    (n_centroids × dim) partial sums. Returns (centroid_id, embedding).
    """
    assigned = assign_nearest_centroid(vectors, centroids)
    v = vectors.select(F.col(ID_COL).alias("vec_id"), _as_double(F.col(VEC_COL)).alias("e"))
    members = assigned.select("vec_id", "centroid_id").join(v, "vec_id")
    # posexplode_outer (r14): a plain posexplode on the `e` attribute
    # makes InferFiltersFromGenerate re-evaluate the cast transform per
    # row; embeddings are never empty, so outer + isNotNull is free and
    # identical.
    dims = members.select(
        "centroid_id", F.posexplode_outer("e").alias("pos", "val")
    ).where(F.col("pos").isNotNull())
    means = dims.groupBy("centroid_id", "pos").agg(F.avg("val").alias("m"))
    return (
        means.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "centroid_id",
            F.transform("pm", lambda s: s.getField("m")).alias("embedding"),
        )
    )


def ivf_build(vectors: DataFrame, n_lists: int = 8) -> tuple[DataFrame, DataFrame]:
    """IVF index: centroids (seeded deterministically from the first
    `n_lists` ids, refined by one Lloyd pass) + inverted lists — every
    vector tagged with its `list_id`.

    At 100 TB the inverted-list table is written partitioned by
    `list_id`, so a probe touches only nprobe/n_lists of the data and
    candidate generation is an equi-join on the partition key.
    """
    seeds = vectors.where(F.col(ID_COL) < n_lists)
    cents = lloyd_refine(vectors, seeds)
    inv = assign_nearest_centroid(
        vectors,
        cents.select(F.col("centroid_id").alias(ID_COL), F.col("embedding").alias(VEC_COL)),
    )
    lists = inv.select("vec_id", F.col("centroid_id").alias("list_id"))
    return cents, lists


def ann_topk_ivf(
    vectors: DataFrame, queries: DataFrame, k: int, n_lists: int = 8, nprobe: int = 3,
) -> DataFrame:
    """Approximate top-k via IVF probe: score only vectors whose
    inverted list is among the query's `nprobe` nearest centroids.

    Scale shape: centroids broadcast (n_lists × dim, tiny); the probe is
    an equi-join on list_id against a list_id-partitioned table — the
    cross join of brute force never materializes.
    """
    cents, lists = ivf_build(vectors, n_lists)
    q = queries.select(F.col(ID_COL).alias("q_id"), _as_double(F.col(VEC_COL)).alias("qe"))
    qc = q.join(F.broadcast(cents.select("centroid_id", _as_double("embedding").alias("ce"))))
    sq_dist = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("q_id").orderBy(F.round(sq_dist, 6).asc(), F.col("centroid_id").asc())
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("q_id", "qe", F.col("centroid_id").alias("list_id"))
    )
    v = vectors.select(F.col(ID_COL).alias("vec_id"), _as_double(F.col(VEC_COL)).alias("e"))
    cand = lists.join(F.broadcast(probes), "list_id").where(F.col("vec_id") != F.col("q_id"))
    scored = cand.join(v, "vec_id").select(
        "q_id", "vec_id", F.round(cosine(F.col("qe"), F.col("e")), 6).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


DIM = 64


def lsh_table_buckets(vectors: DataFrame, n_tables: int = 8, bits_per_table: int = 8) -> DataFrame:
    """Multi-table hyperplane LSH: one (table, bucket) row per vector
    per table, each bucket the sign-bit string of that table's own
    `bits_per_table` hyperplanes. Fewer bits per table = wider buckets;
    more tables = more chances to collide — the standard recall/cost
    knobs (recall ≈ 1-(1-p^b)^L for per-plane agreement p). Plane
    coefficients come from the deterministic avalanche hash
    `_plane_coeff` (plane index offset by table), so buckets are
    reproducible with no RNG state.

    Codegen shape: the planes enter the plan as ONE literal
    array<array<double>> walked with transform/aggregate — not as
    L·b·dim separate literal expression nodes, which ballooned the
    expression tree past ~9k nodes and cost ~20 s of compile+eval for
    5k vectors at the defaults (measured; this form runs in ~2 s)."""
    coeff = _plane_coeff
    n_planes = n_tables * bits_per_table
    mat_sql = "array(%s)" % ",".join(
        "array(%s)"
        % ",".join(repr(coeff(p, d)) + "D" for d in range(DIM))
        for p in range(n_planes)
    )
    bits = F.transform(
        F.expr(mat_sql),
        lambda plane: F.when(
            F.aggregate(
                F.zip_with(F.col("e"), plane, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    v = vectors.withColumn("e", _as_double(F.col(VEC_COL))).withColumn(
        "__bits", bits
    )
    tables = [
        F.struct(
            F.lit(t).alias("table"),
            F.concat_ws(
                "", F.slice(F.col("__bits"), t * bits_per_table + 1, bits_per_table)
            ).alias("bucket"),
        )
        for t in range(n_tables)
    ]
    return (
        v.withColumn("tb", F.explode(F.array(*tables)))
        .withColumn("table", F.col("tb.table"))
        .withColumn("bucket", F.col("tb.bucket"))
        .drop("e", "__bits", "tb")
    )


def _lsh_table_buckets_np(
    vectors: DataFrame, n_tables: int, bits_per_table: int, dim: int,
) -> DataFrame:
    """Arrow/numpy twin of `lsh_table_buckets` for the hot path: all
    L·b plane dots per batch are ONE sign(E @ P.T) matmul (the same
    BLAS-kernel trade the cosine block join and the Jaccard incidence
    kernel make). The Catalyst higher-order-function form evaluates
    ~n·L·b·dim interpreted lambdas — measured 11 s for 5k vectors at
    the defaults vs ~1 s here. Plane matrix is built driver-side from
    the same `_plane_coeff` stream and closure-shipped (L·b·dim
    doubles — ~9k floats, trivially broadcastable)."""
    import numpy as np
    import pandas as pd

    P = np.array(
        [
            [_plane_coeff(p, d) for d in range(dim)]
            for p in range(n_tables * bits_per_table)
        ]
    )
    out_schema = f"{ID_COL} long, {VEC_COL} array<float>, table int, bucket string"

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.vstack([np.asarray(e, dtype=np.float64) for e in pdf[VEC_COL]])
            S = (E @ P.T) >= 0.0
            frames = []
            for t in range(n_tables):
                sl = S[:, t * bits_per_table : (t + 1) * bits_per_table]
                buckets = [
                    "".join("1" if b else "0" for b in row) for row in sl
                ]
                frames.append(
                    pd.DataFrame(
                        {
                            ID_COL: pdf[ID_COL].to_numpy(),
                            VEC_COL: pdf[VEC_COL],
                            "table": t,
                            "bucket": buckets,
                        }
                    )
                )
            yield pd.concat(frames)

    return vectors.select(ID_COL, VEC_COL).mapInPandas(kernel, out_schema)


LSH_BITS_PER_TABLE = 6


def ann_topk_lsh(vectors: DataFrame, queries: DataFrame, k: int, n_tables: int = 24) -> DataFrame:
    """Approximate top-k: candidates are vectors sharing ANY table's
    bucket with the query (multi-table union; the old single-table
    12-bit form measured recall@10 = 0.14 on the sf0.001 embeddings).
    Each (table, bucket) match is an equi-join (hash-partitioned, skew
    handled by AQE); candidates dedupe on (q_id, vec_id) before scoring
    so a pair colliding in several tables scores once. At 100 TB this
    replaces the cross join with L sparse equi-joins — the table count
    multiplies candidate volume, not corpus passes (one explode, one
    join).

    Measured on the sf0.001 embeddings (uniform-random vectors — the
    WORST case for hyperplane contrast: true top-10 neighbors sit at
    per-plane agreement p≈0.6, and measured recall tracks
    1-(1-p^b)^L almost exactly): defaults L=24, b=6 → recall@10 = 0.56
    scoring ~1/3 of the corpus per query. Real embedding corpora are
    clustered (neighbors at cos 0.9+, p≥0.9), where the same defaults
    give recall ≈ 1-(1-0.53)^24 ≈ 1.0 at a few percent scored. On
    genuinely unclustered data prefer `ann_topk_ivf` (measured
    recall@10 = 0.92 at n_lists=8, nprobe=2 on the same vectors)."""
    vb = _lsh_table_buckets_np(vectors, n_tables, LSH_BITS_PER_TABLE, DIM).select(
        F.col(ID_COL).alias("vec_id"), F.col(VEC_COL).alias("e_raw"),
        "table", "bucket",
    )
    qb = _lsh_table_buckets_np(queries, n_tables, LSH_BITS_PER_TABLE, DIM).select(
        F.col(ID_COL).alias("q_id"), F.col(VEC_COL).alias("q_raw"),
        F.col("table").alias("qtable"), F.col("bucket").alias("qbucket"),
    )
    cand = (
        vb.join(
            F.broadcast(qb),
            (F.col("table") == F.col("qtable"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "q_raw", "vec_id", "e_raw")
        .dropDuplicates(["q_id", "vec_id"])
    )
    scored = cand.select(
        "q_id",
        "vec_id",
        F.round(cosine(_as_double(F.col("q_raw")), _as_double(F.col("e_raw"))), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def cosine_pairs_blocked_np(vectors: DataFrame, threshold: float, n_blocks: int = 8) -> DataFrame:
    """BIT-IDENTICAL twin of cosine_pairs_blocked that scores each block
    pair with a vectorized numpy kernel (applyInPandas) instead of
    per-pair JVM array aggregates — same blocking scheme, same results,
    ~3x less CPU (measured at sf0.1).

    Exactness is engineered, not hoped for, mirroring the Jaccard BLAS
    kernel's discipline (dedup.ngram_jaccard_pairs_blas):
    - norms are computed JVM-side BEFORE replication, same as the JVM
      form, so they are the same doubles;
    - the kernel accumulates the dot product SEQUENTIALLY over
      dimensions (64 accumulating outer products, one rounded multiply
      then one rounded add per term — no BLAS matmul, whose pairwise
      summation and FMA contraction would drift in the last ulp);
      ((0+p0)+p1)+... is exactly F.aggregate's fold order;
    - division by the (rounded) norm product is one op each, as in the
      JVM expression;
    - ROUNDING STAYS JVM-SIDE: the kernel emits the raw quotient
      filtered at (threshold - 1e-6) — a margin no pair that rounds to
      >= threshold can be below — and F.round + the exact threshold
      run in Spark, so the decimal-rounding implementation is the very
      one the oracle was validated against.
    Every arithmetic step is therefore the same IEEE-754 op sequence as
    the JVM form; tests pin set-equality of (pair, cos_sim) against it.

    100 TB posture: identical dataflow to cosine_pairs_blocked (the
    kernel only changes per-task instruction count); Arrow batches are
    ~2N/B vectors per task.
    """
    import numpy as np
    import pandas as pd

    B = n_blocks
    v = vectors.select(
        F.col(ID_COL).alias("vid"),
        _as_double(F.col(VEC_COL)).alias("e"),
        F.pmod(F.xxhash64(F.col(ID_COL)), F.lit(B)).cast("int").alias("blk"),
    ).withColumn("nrm", l2_norm(F.col("e")))
    left = v.select(
        "vid", "e", "nrm",
        F.col("blk").alias("blk_a"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("blk_b"),
        F.lit(0).alias("side"),
    )
    right = v.select(
        "vid", "e", "nrm",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("blk_a"),
        F.col("blk").alias("blk_b"),
        F.lit(1).alias("side"),
    )
    both = left.unionByName(right)
    thr_margin = float(threshold) - 1e-6
    out_schema = "vec_a long, vec_b long, cos_raw double"

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        blk_a, blk_b = key
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cos_raw": pd.Series(dtype="float64"),
            }
        )
        L = pdf[pdf["side"] == 0]
        R = pdf[pdf["side"] == 1]
        if len(L) == 0 or len(R) == 0:
            return empty
        A = np.stack([np.asarray(x, dtype=np.float64) for x in L["e"]])
        Bm = np.stack([np.asarray(x, dtype=np.float64) for x in R["e"]])
        acc = np.zeros((len(L), len(R)))
        for k in range(A.shape[1]):
            # one rounded multiply + one rounded add per term — the
            # exact fold order of the JVM F.aggregate
            acc += A[:, k][:, None] * Bm[:, k][None, :]
        denom = L["nrm"].to_numpy()[:, None] * R["nrm"].to_numpy()[None, :]
        c = acc / denom
        ia, ib = np.nonzero(c >= thr_margin)
        if ia.size == 0:
            return empty
        da = L["vid"].to_numpy()[ia]
        db = R["vid"].to_numpy()[ib]
        cv = c[ia, ib]
        keep = (blk_a != blk_b) | (da < db)
        da, db, cv = da[keep], db[keep], cv[keep]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(da, db),
                "vec_b": np.maximum(da, db),
                "cos_raw": cv,
            }
        )

    res = both.groupBy("blk_a", "blk_b").applyInPandas(kernel, out_schema)
    return res.select(
        "vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


def semantic_dedup_pairs(
    vectors: DataFrame,
    threshold: float,
    n_lists: int = 0,
    block_target: int = 1024,
    max_centroid_rows: int = 500_000,
) -> DataFrame:
    """SemDeDup-style cluster-then-pair near-dup detection, shaped so
    EVERY cost term is subquadratic and every task is bounded — the
    scale lesson from the r6 bench's 10x lane, where the previous form
    (8 fixed clusters, per-pair JVM cosine) ran 26.5x on 10x data:

    - `n_lists` defaults to sqrt(N) (classic IVF sizing): per-cluster
      size ~sqrt(N), total within-cluster pair work N^1.5, centroid
      table ~sqrt(N) rows (1 B vectors -> ~31.6 k centroids: genuinely
      control-plane, guarded by `max_centroid_rows`).
    - centroid assignment is a NARROW mapInPandas with the centroid
      matrix in the closure — O(N * sqrt(N) * d) flops vectorized in
      numpy, zero shuffle — replacing O(N*L) per-pair SQL aggregates
      (the hidden quadratic-ish term the old form paid twice: once in
      Lloyd, once in the final assignment).
    - within-cluster scoring reuses the balanced block-pair scheme of
      cosine_pairs_blocked_np, sub-blocking any cluster larger than
      `block_target` so one hot cluster (e.g. a 10x-duplicated corpus)
      spreads over (s/block_target)^2 tasks instead of one straggler.

    Approximation contract (rows-only): near-dups must co-cluster to
    be found. At production thresholds (>= 0.85) that is overwhelmingly
    likely; at low thresholds on uniform vectors recall degrades as
    cluster count grows — that trade IS SemDeDup, the exact twin is
    vec_dedup_cosine.
    """
    import math

    import numpy as np
    import pandas as pd

    N = vectors.count()
    L = int(n_lists) if n_lists else max(8, math.isqrt(N))
    if L > max_centroid_rows:
        raise ValueError(
            f"semantic_dedup_pairs: n_lists={L} exceeds "
            f"max_centroid_rows={max_centroid_rows}; cap n_lists (cluster "
            "sizes grow sqrt-style, staying subquadratic) or raise the "
            "bound deliberately"
        )

    v = vectors.select(
        F.col(ID_COL).alias("vid"), _as_double(F.col(VEC_COL)).alias("e")
    )

    # deterministic seeds: the L smallest ids (TakeOrdered — no global sort)
    seed_rows = v.orderBy("vid").limit(L).collect()
    if not seed_rows:
        return vectors.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, list_id long, cos_sim double"
        )
    cents = np.stack([np.asarray(r["e"], dtype=np.float64) for r in seed_rows])

    def assigner(cent_matrix):
        # nearest centroid by squared L2; ties -> lowest centroid index
        # (np.argmin returns the first minimum; rows are in id order).
        c2 = (cent_matrix * cent_matrix).sum(axis=1)

        def assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["e"]])
                d = c2[None, :] - 2.0 * (X @ cent_matrix.T)
                pdf = pdf[["vid"]].copy()
                pdf["list_id"] = np.argmin(d, axis=1).astype("int64")
                yield pdf

        return assign

    # one Lloyd pass: np-assign -> distributed element-wise mean
    assigned = v.mapInPandas(assigner(cents), "vid long, list_id long")
    means = (
        v.join(assigned, "vid")
        .select("list_id", F.posexplode_outer("e").alias("pos", "val"))
        .where(F.col("pos").isNotNull())
        .groupBy("list_id", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy("list_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
        )
        .select("list_id", F.transform("pm", lambda s: s["m"]).alias("ce"))
        .orderBy("list_id")
        .collect()
    )
    # clusters may die in a Lloyd pass; keep survivors in list_id order
    refined = np.stack([np.asarray(r["ce"], dtype=np.float64) for r in means])
    final = v.mapInPandas(assigner(refined), "vid long, list_id long")

    # balanced within-cluster block pairs (cosine_pairs_blocked_np's
    # scheme with the cluster id prepended to the block key)
    avg_cluster = max(1, N // max(1, len(means)))
    B = max(1, math.ceil(avg_cluster / block_target))
    w = v.join(final, "vid").withColumn(
        "nrm", l2_norm(F.col("e"))
    ).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(B)).cast("int")
    )
    left = w.select(
        "vid", "e", "nrm", "list_id",
        F.col("blk").alias("blk_a"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("blk_b"),
        F.lit(0).alias("side"),
    )
    right = w.select(
        "vid", "e", "nrm", "list_id",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("blk_a"),
        F.col("blk").alias("blk_b"),
        F.lit(1).alias("side"),
    )
    both = left.unionByName(right)
    thr_margin = float(threshold) - 1e-6
    out_schema = "vec_a long, vec_b long, list_id long, cos_raw double"

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        list_id, blk_a, blk_b = key
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "list_id": pd.Series(dtype="int64"),
                "cos_raw": pd.Series(dtype="float64"),
            }
        )
        Lf = pdf[pdf["side"] == 0]
        Rf = pdf[pdf["side"] == 1]
        if len(Lf) == 0 or len(Rf) == 0:
            return empty
        A = np.stack([np.asarray(x, dtype=np.float64) for x in Lf["e"]])
        Bm = np.stack([np.asarray(x, dtype=np.float64) for x in Rf["e"]])
        c = (A @ Bm.T) / (
            Lf["nrm"].to_numpy()[:, None] * Rf["nrm"].to_numpy()[None, :]
        )
        ia, ib = np.nonzero(c >= thr_margin)
        if ia.size == 0:
            return empty
        da = Lf["vid"].to_numpy()[ia]
        db = Rf["vid"].to_numpy()[ib]
        cv = c[ia, ib]
        keep = (blk_a != blk_b) | (da < db)
        da, db, cv = da[keep], db[keep], cv[keep]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(da, db),
                "vec_b": np.maximum(da, db),
                "list_id": np.full(da.shape, list_id, dtype="int64"),
                "cos_raw": cv,
            }
        )

    res = both.groupBy("list_id", "blk_a", "blk_b").applyInPandas(
        kernel, out_schema
    )
    return res.select(
        "vec_a", "vec_b", "list_id", F.round("cos_raw", 6).alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


PQ_TRAIN_LIMIT = 65536
PQ_N_ITERS = 5


def pq_train(vectors: DataFrame, m: int = 8, k: int = 16):
    """Train product-quantization codebooks: the vector dimension is
    split into `m` subspaces, each clustered into `k` centroids; a
    vector then encodes as m sub-centroid ids — 8 bytes at (m=8, k<=256)
    vs 256 bytes of float32, the 32x memory compression that makes
    billion-vector ANN fit a cluster's RAM (Jégou, Douze & Schmid 2011,
    "Product Quantization for Nearest Neighbor Search").

    Training is control-plane by design — production PQ (e.g. FAISS)
    trains codebooks on a bounded sample because k-means over m tiny
    subspaces needs thousands of rows, not the corpus: the
    `PQ_TRAIN_LIMIT` lowest ids (deterministic, TakeOrdered) come to the
    driver and each subspace runs `PQ_N_ITERS` Lloyd iterations in numpy
    with first-k-rows seeding and lowest-index tie-breaks, so the same
    corpus always yields the same codebooks. Returns an
    (m, k, dim/m) float64 array.
    """
    import numpy as np

    rows = (
        vectors.select(F.col(ID_COL).alias("vid"), _as_double(F.col(VEC_COL)).alias("e"))
        .orderBy("vid")
        .limit(PQ_TRAIN_LIMIT)
        .collect()
    )
    if not rows:
        raise ValueError("pq_train: no vectors to train on")
    X = np.stack([np.asarray(r["e"], dtype=np.float64) for r in rows])
    d = X.shape[1]
    if d % m:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.empty((m, k, dsub))
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        C = Xs[:k].copy()  # deterministic seeding
        for _ in range(PQ_N_ITERS):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # first minimum: lowest id
            for j in range(k):
                members = Xs[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books[s] = C
    return books


def pq_encode(vectors: DataFrame, codebooks) -> DataFrame:
    """Encode every vector as its m sub-centroid ids (array<int>, one
    byte of information each at k<=256). Narrow mapInPandas — the
    codebooks ride the closure (m*k*dsub doubles, constant), nothing
    shuffles; at 100 TB this is the one full-corpus pass PQ ever takes,
    and the output is ~32x smaller than its input."""
    import numpy as np
    import pandas as pd

    books = codebooks
    m, k, dsub = books.shape

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[VEC_COL]])
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                d2 = (
                    (books[s] ** 2).sum(axis=1)[None, :]
                    - 2.0 * (Xs @ books[s].T)
                )
                codes[:, s] = np.argmin(d2, axis=1)
            out = pd.DataFrame({"vec_id": pdf[ID_COL].to_numpy()})
            out["codes"] = list(codes)
            yield out

    return vectors.select(ID_COL, VEC_COL).mapInPandas(
        encode, schema="vec_id long, codes array<int>"
    )


def pq_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks,
    k_neighbors: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): each
    query precomputes an (m, k) table of exact sub-distances to every
    sub-centroid, and a corpus vector's approximate distance is m table
    lookups on its CODES — the full-precision corpus is never read at
    query time.

    Scale shape: queries (with their tables) ride the mapInPandas
    closure — Q * m * k doubles, the always-safe broadcast; the encoded
    corpus streams through with no shuffle; the only exchange is the
    per-query top-k window at the end, over Q bounded partitions.
    """
    import numpy as np
    import pandas as pd

    books = codebooks
    m, k, dsub = books.shape
    q_rows = (
        queries.select(F.col(ID_COL).alias("qid"), _as_double(F.col(VEC_COL)).alias("qe"))
        .orderBy("qid")
        .collect()
    )
    if not q_rows:
        raise ValueError("pq_ann_topk: empty query set")
    q_ids = np.array([r["qid"] for r in q_rows])
    Q = np.stack([np.asarray(r["qe"], dtype=np.float64) for r in q_rows])
    # (n_q, m, k) exact sub-distances query -> every sub-centroid
    tables = np.empty((len(Q), m, k))
    for s in range(m):
        Qs = Q[:, s * dsub : (s + 1) * dsub]
        tables[:, s, :] = (
            (books[s] ** 2).sum(axis=1)[None, :]
            - 2.0 * (Qs @ books[s].T)
            + (Qs ** 2).sum(axis=1)[:, None]
        )

    encoded = pq_encode(vectors, books)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            # adc[q, v] = sum_s tables[q, s, C[v, s]]
            adc = np.zeros((len(q_ids), len(C)))
            for s in range(m):
                adc += tables[:, s, :][:, C[:, s]]
            vids = pdf["vec_id"].to_numpy()
            n_q = len(q_ids)
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, len(C)),
                    "vec_id": np.tile(vids, n_q),
                    "adc_dist": adc.reshape(-1),
                }
            )

    scored = encoded.mapInPandas(
        score, schema="q_id long, vec_id long, adc_dist double"
    ).where(F.col("q_id") != F.col("vec_id"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k_neighbors)
        .select("q_id", "vec_id", F.round("adc_dist", 6).alias("adc_dist"), "rn")
    )


K_NEIGHBORS = 10


def pq_ann_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks,
    n_lists: int = 8,
    nprobe: int = 3,
) -> DataFrame:
    """IVF+PQ — the composition FAISS ships as its production index
    (IndexIVFPQ): IVF inverted lists prune WHICH vectors are scored
    (only the query's `nprobe` nearest lists), PQ codes decide HOW —
    ADC table lookups over 32x-compressed codes. At billions of
    vectors, IVF cuts the scored fraction to nprobe/n_lists and PQ
    makes what remains fit in RAM; neither alone gives both.

    Plumbing: inverted lists from ivf_build (at 100 TB the encoded
    corpus is WRITTEN partitioned by list_id, so the probe is partition
    pruning); the probe set (query x candidate list) is a small
    broadcast join against the encoded corpus; ADC tables ride the
    closure as in pq_ann_topk. Scoring raw-vector codes rather than
    residual codes — the simpler public variant; residual encoding
    tightens distances at the cost of per-list codebooks.
    """
    import numpy as np
    import pandas as pd

    books = codebooks
    m, k, dsub = books.shape
    cents, lists = ivf_build(vectors, n_lists=n_lists)
    cent_rows = cents.orderBy("centroid_id").collect()
    C = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in cent_rows])
    cent_ids = np.array([r["centroid_id"] for r in cent_rows])

    q_rows = (
        queries.select(F.col(ID_COL).alias("qid"), _as_double(F.col(VEC_COL)).alias("qe"))
        .orderBy("qid")
        .collect()
    )
    if not q_rows:
        raise ValueError("pq_ann_topk_ivf: empty query set")
    Q = np.stack([np.asarray(r["qe"], dtype=np.float64) for r in q_rows])
    q_ids = [r["qid"] for r in q_rows]
    d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    probe_pairs = [
        (int(q_ids[i]), int(cent_ids[j]))
        for i in range(len(q_ids))
        for j in np.argsort(d2[i], kind="stable")[:nprobe]
    ]
    probes = vectors.sparkSession.createDataFrame(
        probe_pairs, "q_id long, list_id long"
    )

    tables = np.empty((len(Q), m, k))
    for s in range(m):
        Qs = Q[:, s * dsub : (s + 1) * dsub]
        tables[:, s, :] = (
            (books[s] ** 2).sum(axis=1)[None, :]
            - 2.0 * (Qs @ books[s].T)
            + (Qs ** 2).sum(axis=1)[:, None]
        )
    tbl_by_q = {int(q_ids[i]): tables[i] for i in range(len(q_ids))}

    encoded = pq_encode(vectors, books).join(
        lists.select(F.col("vec_id"), F.col("list_id").cast("long")), "vec_id"
    )
    cand = encoded.join(F.broadcast(probes), "list_id").where(
        F.col("q_id") != F.col("vec_id")
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Cc = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            qs = pdf["q_id"].to_numpy()
            adc = np.zeros(len(Cc))
            for row in range(len(Cc)):
                t = tbl_by_q[int(qs[row])]
                adc[row] = t[np.arange(m), Cc[row]].sum()
            yield pd.DataFrame(
                {
                    "q_id": qs,
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "adc_dist": adc,
                }
            )

    scored = cand.select("q_id", "vec_id", "codes").mapInPandas(
        score, schema="q_id long, vec_id long, adc_dist double"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K_NEIGHBORS)
        .select("q_id", "vec_id", F.round("adc_dist", 6).alias("adc_dist"), "rn")
    )


PQ_OVERSAMPLE = 4


def pq_ann_rerank(vectors: DataFrame, queries: DataFrame, codebooks) -> DataFrame:
    """Two-stage retrieve-and-refine — the production ANN serving shape
    (FAISS IndexRefineFlat): the PQ-ADC stage screens a shortlist of
    k*PQ_OVERSAMPLE candidates from 32x-compressed codes WITHOUT touching
    the full-precision corpus, then ONLY the shortlist's true vectors
    are read back and re-scored with exact L2, and the final top-k is
    taken from the exact scores. Fixes the quantization-error ranking
    inversions PQ alone makes, at the cost of reading
    Q x k x PQ_OVERSAMPLE full vectors instead of zero.

    Scale shape: the shortlist is Q*k*PQ_OVERSAMPLE rows — bounded by the
    query set, so its join back to `vectors` is the
    AQE-broadcasts-the-small-side case; the exact re-score is row-local
    zip_with/aggregate (JVM codegen); the final top-k window partitions
    per query. The corpus is still never scanned in full precision
    beyond the candidate join.
    """
    shortlist = pq_ann_topk(
        vectors, queries, codebooks,
        k_neighbors=K_NEIGHBORS * PQ_OVERSAMPLE,
    ).select("q_id", "vec_id")
    v = vectors.select(
        F.col(ID_COL).alias("vec_id"), _as_double(F.col(VEC_COL)).alias("__ve")
    )
    q = queries.select(
        F.col(ID_COL).alias("q_id"), _as_double(F.col(VEC_COL)).alias("__qe")
    )
    l2 = F.aggregate(
        F.zip_with("__qe", "__ve", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    joined = (
        shortlist.join(v, "vec_id")
        .join(F.broadcast(q), "q_id")  # queries are bounded by contract
        .withColumn("l2_dist", F.round(l2, 6))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("l2_dist").asc(), F.col("vec_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K_NEIGHBORS)
        .select("q_id", "vec_id", "l2_dist", "rn")
    )


def _portable_assign_quantized(points: DataFrame, cs: DataFrame) -> DataFrame:
    """One portable-kmeans assignment pass: quantized points (vec_id,
    q) against a K-row codebook (centroid_id, cq), broadcast join +
    per-point min with deterministic ties on centroid_id. The SINGLE
    assignment definition the Lloyd loop, the final-stats pass and
    kmeans_portable_assign all share, so training-time and
    selection-time assignments cannot drift."""
    d = (
        F.aggregate(F.zip_with("q", "q", lambda x, y: x * y),
                    F.lit(0.0), lambda a, x: a + x)
        - 2.0 * F.aggregate(F.zip_with("q", "cq", lambda x, y: x * y),
                            F.lit(0.0), lambda a, x: a + x)
        + F.aggregate(F.zip_with("cq", "cq", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    )
    pairs = points.join(F.broadcast(cs)).withColumn("dist", d)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist").asc(), F.col("centroid_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "q", "centroid_id", "dist")
    )


KMP_SCALE = 10000


def kmeans_portable_assign(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign raw vectors to a trained portable-kmeans codebook:
    quantize exactly as training did (round(x*KMP_SCALE), the one IEEE
    multiply + half-away round), then the shared broadcast assignment
    pass. Returns (vec_id, centroid_id, dist) — dist is the exact
    integer-valued quantized squared-L2. The K-row codebook broadcasts;
    the fact side never shuffles."""
    q = vectors.select(
        F.col(ID_COL).alias("vec_id"),
        F.transform(
            F.col(VEC_COL),
            lambda x: F.round(x.cast("double") * F.lit(float(KMP_SCALE)), 0),
        ).alias("q"),
    )
    return _portable_assign_quantized(q, cents).select(
        "vec_id", "centroid_id", "dist"
    )


def kmeans_portable_quantized(
    vectors: DataFrame,
    k: int = 8,
    scale: int = 10000,
    rounds: int = 2,
    n_tasks: int = 32,
    compute_stats: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd k-means whose EVERY intermediate is an integer-valued
    double, so the whole iterative algorithm is bit-exact across
    engines (the graph_kcore_peel trick applied to clustering).

    Exactness argument: elements quantize to round(x*scale) — one IEEE
    multiply + one half-away-from-zero round, both engine-identical.
    From there all arithmetic is on integer-valued doubles: squared-L2
    distances via dot(q,q) - 2*dot(q,c) + dot(c,c) stay below 2^53
    (|q| <= ~scale, dim 64 => dist <= 64*(2*scale)^2 ~ 2.6e13), so
    float summation is EXACT in any order — no FP-environment
    dependence, unlike the plain `vec_kmeans`/`lloyd_refine` path
    whose mean re-centering carries order-dependent double sums.
    Re-centering uses floor(sum/count): sum is an exact integer-valued
    double (N*scale bounds), the single division is IEEE-deterministic,
    and floor pins the result back to an integer — both engines agree.
    Ties in assignment break on centroid_id; empty clusters drop out
    of the next round identically on both sides.

    Scale posture: assignment = broadcast of K centroid rows against a
    repartitioned fact side (O(N*K) map work, no shuffle of N);
    re-centering = posexplode to (centroid, dim) and ONE hash agg with
    map-side partials (N*dim narrow rows); per-round driver traffic is
    the K-row centroid localCheckpoint only. Inertia output is BIGINT:
    per-point dist <= 2.6e13 at scale=1e4 keeps even a 1e5-member sum
    far from the 9.2e18 int64 edge (1e9 members per cluster still
    fits by ~350x headroom at scale=1e3; callers at extreme N shrink
    `scale`).

    Returns (per_cluster_stats, final_centroids): stats has
    centroid_id / n_members / inertia_q (BIGINT); stats is None when
    ``compute_stats=False`` (the ANN builders only need the codebook
    and do their own assignment — skipping the final full-corpus
    assign+agg pass halves the most expensive stage).

    Seeding contract: initial centroids are the rows with
    ``ID_COL < k`` — deterministic (so the generated oracle can state
    the same seed) but it REQUIRES ids to be numeric and include
    0..k-1 (dense 0-based, as the driver's embeddings table is).
    Checked loudly below: a filtered corpus or string ids would
    otherwise silently train fewer than k centroids.
    """
    q = vectors.select(
        F.col(ID_COL).alias("vec_id"),
        F.transform(
            F.col(VEC_COL), lambda x: F.round(x.cast("double") * F.lit(float(scale)), 0)
        ).alias("q"),
    )
    q = q.repartition(n_tasks).localCheckpoint(eager=False)
    cents = q.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("q").alias("cq")
    )
    n_seed = cents.count()
    if n_seed != k:
        raise ValueError(
            f"kmeans_portable_quantized seeds from rows with {ID_COL} < "
            f"{k} and found {n_seed} — ids must be dense 0-based "
            f"numerics covering 0..{k - 1}"
        )

    _assign = _portable_assign_quantized

    for _ in range(rounds):
        best = _assign(q, cents)
        sums = (
            best.select("centroid_id", F.posexplode("q").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        cents = (
            sums.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos"),
                                (F.floor(F.col("s") / F.col("n"))).cast("double").alias("cv"),
                            )
                        )
                    ),
                    lambda st: st.getField("cv"),
                ).alias("cq")
            )
            # lazy (r15, guide §1.2): the next round's broadcast build
            # (or the final assign) materializes the K-row table in its
            # own job — the eager form blocked the driver once per
            # round, each block a full corpus assign+agg
        ).localCheckpoint(eager=False)

    if not compute_stats:
        return None, cents
    final = _assign(q, cents)
    stats = (
        final.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("dist").cast("long").alias("inertia_q"),
        )
        .orderBy("centroid_id")
    )
    return stats, cents


def ann_topk_ivf_portable(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 8,
    nprobe: int = 3,
    scale: int = 10000,
    rounds: int = 2,
    n_tasks: int = 32,
) -> DataFrame:
    """IVF ANN whose ENTIRE train -> build -> probe path is integer-
    exact (codebook from kmeans_portable_quantized, assignment and
    re-ranking on quantized squared distances), so unlike ann_topk_ivf
    the probe result is bit-identical across engines and carries an
    exact driver oracle. Same plan economics as the float IVF:
    candidates come from an equi-join on list_id — per-query work is
    the nprobe/n_lists fraction of the corpus, never a cross join;
    the codebook (n_lists rows) broadcasts both for the list build
    and the query-side probe selection.

    Approximation contract is IVF's own (a true neighbor whose list
    isn't probed is missed — pytest pins nprobe=n_lists == exact
    brute force); the EXACTNESS claim is about determinism, not
    recall. Ties: probe lists on centroid_id, neighbors on vec_id.
    """
    _, cents = kmeans_portable_quantized(
        vectors, k=n_lists, scale=scale, rounds=rounds,
        n_tasks=n_tasks,
        compute_stats=False,
    )

    qv = vectors.select(
        F.col(ID_COL).alias("vec_id"),
        F.transform(
            F.col(VEC_COL), lambda x: F.round(x.cast("double") * F.lit(float(scale)), 0)
        ).alias("q"),
    ).repartition(n_tasks)

    def _sq(a: str, b: str):
        return (
            F.aggregate(F.zip_with(a, a, lambda x, y: x * y),
                        F.lit(0.0), lambda acc, x: acc + x)
            - 2.0 * F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                                F.lit(0.0), lambda acc, x: acc + x)
            + F.aggregate(F.zip_with(b, b, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        )

    # Inverted lists: every vector -> nearest codebook entry.
    lw = Window.partitionBy("vec_id").orderBy(
        F.col("dist").asc(), F.col("centroid_id").asc()
    )
    lists = (
        qv.join(F.broadcast(cents))
        .withColumn("dist", _sq("q", "cq"))
        .withColumn("rn", F.row_number().over(lw))
        .where(F.col("rn") == 1)
        .select("vec_id", "q", F.col("centroid_id").alias("list_id"))
    )

    # Probe: nprobe nearest lists per query.
    qq = queries.select(
        F.col(ID_COL).alias("q_id"),
        F.transform(
            F.col(VEC_COL), lambda x: F.round(x.cast("double") * F.lit(float(scale)), 0)
        ).alias("qq"),
    )
    pw = Window.partitionBy("q_id").orderBy(
        F.col("pdist").asc(), F.col("centroid_id").asc()
    )
    probe = (
        qq.join(F.broadcast(cents))
        .withColumn("pdist", _sq("qq", "cq"))
        .withColumn("prn", F.row_number().over(pw))
        .where(F.col("prn") <= nprobe)
        .select("q_id", "qq", F.col("centroid_id").alias("list_id"))
    )

    cand = probe.join(lists, "list_id").where(F.col("q_id") != F.col("vec_id"))
    scored = cand.withColumn("dist_q", _sq("qq", "q").cast("long"))
    w = Window.partitionBy("q_id").orderBy(F.col("dist_q").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "vec_id", "dist_q", "rn")
        .orderBy("q_id", "rn")
    )


PQP_M_SUB = 4
PQP_K_CODES = 8
PQP_SCALE = 10000
PQP_ROUNDS = 2


def ann_topk_pq_portable(vectors: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Product-Quantization ANN whose ENTIRE train -> encode -> ADC
    probe path is integer-exact — the PQ member of the portable family
    (kmeans_portable_quantized / ann_topk_ivf_portable), so unlike
    ann_topk_pq the result carries an exact driver oracle.

    Construction: split the quantized `DIM`-dim vectors into `PQP_M_SUB`
    subspaces, train a `PQP_K_CODES`-entry codebook per subspace with
    kmeans_portable_quantized (scale=1: the sub-vectors are already
    integer-valued doubles, so the inner quantization is the
    identity), encode every vector as PQP_M_SUB code ids, then score by
    ASYMMETRIC DISTANCE: per query, a (m, code) -> squared-distance
    lookup table (PQP_M_SUB*PQP_K_CODES rows, broadcast), candidate score =
    SUM over subspaces of the LUT entry for the candidate's code —
    PQ's standard full-scan ADC (the IVF composition restricts the
    candidate set; this form scores all N codes rows, which is the
    honest baseline the ADC paper measures).

    Exactness bounds: per-subspace squared distance <= (DIM/PQP_M_SUB) *
    (2*PQP_SCALE)^2 = 16*4e8 = 6.4e9; the ADC sum over 4 subspaces stays
    < 2^35, far below 2^53 — every float add is exact in any order.
    Ties break on (adc_dist, vec_id); code assignment ties on
    centroid_id (inherited from the kmeans operator).

    Scale: codes table is N*PQP_M_SUB narrow rows; the LUT join is a
    broadcast hash join (LUT = queries * PQP_M_SUB * PQP_K_CODES rows); the
    only wide shuffle is the (q_id, vec_id) partial-aggregable SUM.
    """
    sub_len = DIM // PQP_M_SUB
    qv = vectors.select(
        F.col(ID_COL).alias("vec_id"),
        F.transform(
            F.col(VEC_COL), lambda x: F.round(x.cast("double") * F.lit(float(PQP_SCALE)), 0)
        ).alias("q"),
    ).repartition(N_TASKS).localCheckpoint(eager=False)
    qq = queries.select(
        F.col(ID_COL).alias("q_id"),
        F.transform(
            F.col(VEC_COL), lambda x: F.round(x.cast("double") * F.lit(float(PQP_SCALE)), 0)
        ).alias("q"),
    )

    def _sq(a: str, b: str):
        return (
            F.aggregate(F.zip_with(a, a, lambda x, y: x * y),
                        F.lit(0.0), lambda acc, x: acc + x)
            - 2.0 * F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                                F.lit(0.0), lambda acc, x: acc + x)
            + F.aggregate(F.zip_with(b, b, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        )

    codes = None
    luts = None
    for m in range(PQP_M_SUB):
        sub = qv.select(
            "vec_id", F.slice("q", m * sub_len + 1, sub_len).alias("embedding")
        )
        _, cents = kmeans_portable_quantized(
            sub, k=PQP_K_CODES, scale=1, rounds=PQP_ROUNDS,
            n_tasks=N_TASKS,
            compute_stats=False,
        )
        ew = Window.partitionBy("vec_id").orderBy(
            F.col("dist").asc(), F.col("centroid_id").asc()
        )
        enc = (
            sub.withColumnRenamed("embedding", "sq")
            .join(F.broadcast(cents))
            .withColumn("dist", _sq("sq", "cq"))
            .withColumn("rn", F.row_number().over(ew))
            .where(F.col("rn") == 1)
            .select(
                "vec_id",
                F.lit(m).alias("m"),
                F.col("centroid_id").alias("code"),
            )
        )
        qsub = qq.select(
            "q_id", F.slice("q", m * sub_len + 1, sub_len).alias("sq")
        )
        lut = (
            qsub.join(F.broadcast(cents))
            .select(
                "q_id",
                F.lit(m).alias("m"),
                F.col("centroid_id").alias("code"),
                _sq("sq", "cq").alias("d"),
            )
        )
        codes = enc if codes is None else codes.unionByName(enc)
        luts = lut if luts is None else luts.unionByName(lut)

    adc = (
        codes.join(F.broadcast(luts), ["m", "code"])
        .where(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "vec_id", "adc_dist", "rn")
        .orderBy("q_id", "rn")
    )


def ann_topk_ivfpq_portable(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    n_lists: int = 8,
    nprobe: int = 3,
) -> DataFrame:
    """FAISS-style IVFADC made integer-exact end to end — the capstone
    of the portable ANN family: coarse inverted lists (integer k-means
    codebook), RESIDUAL product quantization (residual = q - coarse
    centroid is an integer subtraction, so the whole residual path
    inherits exactness), per-(query, probed-list) ADC lookup tables,
    an ADC shortlist, and an EXACT integer rerank of the shortlist —
    i.e. both halves of the billion-vector serving budget (ivfpq) plus
    the refine stage (pq_rerank) in one deterministic dataflow with a
    driver-exact oracle.

    Bounds: residual elements <= 2*PQP_SCALE so a 16-dim subspace squared
    distance <= 16*(4*PQP_SCALE)^2 ~ 2.6e10, the 4-way ADC sum < 2^37, and
    the exact rerank distance <= 64*(4e4)^2 ~ 1e11 — all far below
    2^53; every float add is exact in any order. Ties break on ids at
    every stage (coarse assign, code assign, probe list choice, ADC
    shortlist, final rerank).

    Plan: codebooks broadcast (n_lists + PQP_M_SUB*PQP_K_CODES rows); codes =
    N*PQP_M_SUB narrow rows keyed by list; LUTs = queries*nprobe*PQP_M_SUB*
    PQP_K_CODES rows, broadcast; ADC candidates come from the (list_id, m,
    code) equi-join — per-query work is the probed fraction of the
    corpus, never a scan; rerank joins the `shortlist`-bounded id set
    back to the vectors.
    """
    sub_len = DIM // PQP_M_SUB
    _, cents = kmeans_portable_quantized(
        vectors, k=n_lists, scale=PQP_SCALE, rounds=PQP_ROUNDS,
        n_tasks=N_TASKS,
        compute_stats=False,
    )

    def _quant(df, out_id):
        return df.select(
            F.col(ID_COL).alias(out_id),
            F.transform(
                F.col(VEC_COL),
                lambda x: F.round(x.cast("double") * F.lit(float(PQP_SCALE)), 0),
            ).alias("q"),
        )

    def _sq(a: str, b: str):
        return (
            F.aggregate(F.zip_with(a, a, lambda x, y: x * y),
                        F.lit(0.0), lambda acc, x: acc + x)
            - 2.0 * F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                                F.lit(0.0), lambda acc, x: acc + x)
            + F.aggregate(F.zip_with(b, b, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        )

    qv = _quant(vectors, "vec_id").repartition(N_TASKS).localCheckpoint(
        eager=False
    )
    aw = Window.partitionBy("vec_id").orderBy(
        F.col("dist").asc(), F.col("centroid_id").asc()
    )
    assign = (
        qv.join(F.broadcast(cents))
        .withColumn("dist", _sq("q", "cq"))
        .withColumn("rn", F.row_number().over(aw))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "q",
            F.col("centroid_id").alias("list_id"),
            F.zip_with("q", "cq", lambda x, y: x - y).alias("res"),
        )
        .localCheckpoint(eager=False)
    )

    codes = None
    pq_cents = {}
    for m in range(PQP_M_SUB):
        sub = assign.select(
            "vec_id", F.slice("res", m * sub_len + 1, sub_len).alias("embedding")
        )
        _, cm = kmeans_portable_quantized(
            sub, k=PQP_K_CODES, scale=1, rounds=PQP_ROUNDS,
            n_tasks=N_TASKS,
            compute_stats=False,
        )
        pq_cents[m] = cm
        ew = Window.partitionBy("vec_id").orderBy(
            F.col("dist").asc(), F.col("centroid_id").asc()
        )
        enc = (
            sub.withColumnRenamed("embedding", "sq")
            .join(F.broadcast(cm))
            .withColumn("dist", _sq("sq", "cq"))
            .withColumn("rn", F.row_number().over(ew))
            .where(F.col("rn") == 1)
            .select(
                "vec_id", F.lit(m).alias("m"), F.col("centroid_id").alias("code")
            )
        )
        codes = enc if codes is None else codes.unionByName(enc)
    codes = codes.join(assign.select("vec_id", "list_id"), "vec_id")

    qq = _quant(queries, "q_id")
    pw = Window.partitionBy("q_id").orderBy(
        F.col("pdist").asc(), F.col("centroid_id").asc()
    )
    probe = (
        qq.join(F.broadcast(cents))
        .withColumn("pdist", _sq("q", "cq"))
        .withColumn("prn", F.row_number().over(pw))
        .where(F.col("prn") <= nprobe)
        .select(
            "q_id",
            "q",
            F.col("centroid_id").alias("list_id"),
            F.zip_with("q", "cq", lambda x, y: x - y).alias("qres"),
        )
    )
    luts = None
    for m in range(PQP_M_SUB):
        lut = (
            probe.select(
                "q_id",
                "list_id",
                F.slice("qres", m * sub_len + 1, sub_len).alias("sq"),
            )
            .join(F.broadcast(pq_cents[m]))
            .select(
                "q_id",
                "list_id",
                F.lit(m).alias("m"),
                F.col("centroid_id").alias("code"),
                _sq("sq", "cq").alias("d"),
            )
        )
        luts = lut if luts is None else luts.unionByName(lut)

    adc = (
        codes.join(F.broadcast(luts), ["list_id", "m", "code"])
        .where(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc_dist"))
    )
    sw = Window.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    short = (
        adc.withColumn("srn", F.row_number().over(sw))
        .where(F.col("srn") <= shortlist)
        .select("q_id", "vec_id")
    )
    rer = (
        short.join(assign.select("vec_id", "q"), "vec_id")
        .join(
            F.broadcast(qq.select("q_id", F.col("q").alias("qfull"))), "q_id"
        )
        .withColumn("dist_q", _sq("qfull", "q").cast("long"))
    )
    rw = Window.partitionBy("q_id").orderBy(
        F.col("dist_q").asc(), F.col("vec_id").asc()
    )
    return (
        rer.withColumn("rn", F.row_number().over(rw))
        .where(F.col("rn") <= k)
        .select("q_id", "vec_id", "dist_q", "rn")
        .orderBy("q_id", "rn")
    )


# ---------------------------------------------------------------------------
# r11: incremental SemDeDup — the embedding family's persisted-state
# ingest loop, completing the incremental-dedup symmetry (exact:
# dedup_filter_new; MinHash: minhash_filter_new; substring spans:
# span_state_add — semantic was the one family without one). Same
# discipline throughout: the state is a batch-id store (etl/snapshot.py)
# folded in under the landed batch's id; the state never shuffles on a
# probe; a fold-in appends one O(batch) fragment.

# State-layout fingerprint, persisted with the state (the minhash
# SIG_VERSION lesson): buckets are pure functions of the vector ONLY
# under a fixed plane construction + banding — probing a state built
# under different parameters would silently produce zero collisions.
SEM_STATE_VERSION = "semdedup-hyperplane-splitmix-b6xL10-v1"


def _sem_bucket_rows(vectors: DataFrame) -> DataFrame:
    """Banded hyperplane-LSH rows: one (id, e, nrm, band, bucket) row
    per band, buckets = sign-bit strings of `BAND_PLANES` deterministic
    hyperplanes (no RNG — _plane_coeff avalanche, plane index global
    across bands). Banding is what makes the probe RECALL tunable where
    a single wide bucket is not: at cosine s the per-plane collision
    probability is 1 - arccos(s)/pi, a band collides at p^BAND_PLANES
    and ANY of N_BANDS bands suffices — at s=0.8, b=6, L=10 that is
    1-(1-0.25)^10 ~ 0.94, and a planted near-copy (s~0.99) collides
    with probability 1 - 1e-8. Zero-norm vectors get NO rows (cosine
    undefined) — callers must pass them through as survivors.

    Codegen shape follows lsh_table_buckets (review find: the first
    form built 60 planes as ~3.8k separate F.lit nodes — the exact
    expression-tree blowup that function's docstring documents at ~10x
    compile cost): the planes enter as ONE literal array<array<double>>
    walked with transform/aggregate, buckets bit-identical to the
    per-literal form (same _plane_coeff global plane indexing)."""
    coeff = _plane_coeff
    n_planes = N_BANDS * BAND_PLANES
    mat_sql = "array(%s)" % ",".join(
        "array(%s)" % ",".join(repr(coeff(p, d)) + "D" for d in range(DIM))
        for p in range(n_planes)
    )
    bits = F.transform(
        F.expr(mat_sql),
        lambda plane: F.when(
            F.aggregate(
                F.zip_with(F.col("e"), plane, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    v = (
        vectors.select(F.col(ID_COL), _as_double(F.col(VEC_COL)).alias("e"))
        .withColumn("nrm", l2_norm(F.col("e")))
        .where(F.col("nrm") > 0)
        .withColumn("__bits", bits)
    )
    bands = [
        F.struct(
            F.lit(band).alias("band"),
            F.concat_ws(
                "", F.slice(F.col("__bits"), band * BAND_PLANES + 1, BAND_PLANES)
            ).alias("bucket"),
        )
        for band in range(N_BANDS)
    ]
    return v.select(
        ID_COL, "e", "nrm", F.explode(F.array(*bands)).alias("bb")
    ).select(ID_COL, "e", "nrm", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _sem_cos(e_a, n_a, e_b, n_b):
    return dot(e_a, e_b) / (n_a * n_b)


N_BANDS = 10
BAND_PLANES = 6
MAX_BROADCAST_ROWS = 4_000_000


def semantic_filter_new(spark, batch: DataFrame, state_path: str, threshold: float) -> DataFrame:
    """Incremental SemDeDup, read side: batch vectors with no kept
    near-duplicate (cosine >= threshold) in the persisted representative
    state, with in-batch near-dups collapsed first under the SemDeDup
    keeper convention (a vector is dropped when ANY smaller-id batch
    vector is bucket-visible at >= threshold — cluster representative =
    min id). Candidates come from banded hyperplane-LSH collisions only
    (the approximation contract of semantic_dedup_pairs: recall math in
    _sem_bucket_rows); every candidate is VERIFIED with the true cosine
    before it can drop anything.

    Probe shape (the dedup_filter_new / minhash_filter_new posture):
    the state (one read_snapshot) never shuffles — a left-semi against
    a BROADCAST of the batch's distinct (band, bucket) keys (guarded;
    corpus-sized batches fall back to the shuffled equi-join), then the
    cosine verify join on the surviving candidates. Zero-norm vectors
    have no buckets and PASS THROUGH as survivors (the minhash
    NULL-text lesson).

    Ordering contract: fold this output in with semantic_state_add
    under the landed batch's id (a replayed batch id is skipped). A
    store with no data — missing, or only the construction marker a
    crash before the first fold-in left — reads as the empty state; a
    marker naming another construction is refused."""
    rows = _sem_bucket_rows(batch)
    # reused >=3 times below; lazy (r15): the first consumer
    # materializes it in its own job
    rows = rows.localCheckpoint(eager=False)
    # ---- in-batch keeper assignment (min-id representative) ----
    a = rows.select(
        F.col(ID_COL).alias("id_a"), F.col("e").alias("e_a"),
        F.col("nrm").alias("n_a"), "band", "bucket",
    )
    b = rows.select(
        F.col(ID_COL).alias("id_b"), F.col("e").alias("e_b"),
        F.col("nrm").alias("n_b"), "band", "bucket",
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "e_a", "n_a", "id_b", "e_b", "n_b")
        .distinct()
    )
    dominated = (
        cand.where(
            _sem_cos(F.col("e_a"), F.col("n_a"), F.col("e_b"), F.col("n_b"))
            >= F.lit(threshold)
        )
        .select(F.col("id_b").alias(ID_COL))
        .distinct()
    )
    kept = batch.join(dominated, ID_COL, "left_anti")
    # zero-norm rows never appear in `rows`; they are already inside
    # `kept` (nothing can dominate them) and must skip the state probe.
    check_construction(state_path, SEM_STATE_VERSION, stamp=False)
    state = read_snapshot(spark, state_path, STATE)
    if state is None:
        return kept
    # no broadcast hint on `dominated` (review find): a duplicate-heavy
    # corpus-sized batch makes it unbounded — let AQE pick the strategy.
    probe = rows.join(dominated, ID_COL, "left_anti")
    # lazy (r15): the unconditional guard count materializes it
    bb = probe.select("band", "bucket").distinct().localCheckpoint(eager=False)
    if bb.count() <= MAX_BROADCAST_ROWS:
        state = state.join(F.broadcast(bb), ["band", "bucket"], "left_semi")
    dup_ids = (
        probe.join(
            state.select(
                "band", "bucket",
                F.col("e").alias("e_s"), F.col("nrm").alias("n_s"),
            ),
            ["band", "bucket"],
        )
        .where(
            _sem_cos(F.col("e"), F.col("nrm"), F.col("e_s"), F.col("n_s"))
            >= F.lit(threshold)
        )
        .select(ID_COL)
        .distinct()
    )
    return kept.join(dup_ids, ID_COL, "left_anti")


def semantic_state_add(spark, fresh: DataFrame, state_path: str, batch_id: int) -> None:
    """Incremental SemDeDup, write side: fold the landed batch's bucket
    rows (+vectors — representatives must be retained, cosine needs
    them; unlike the hash families the state is O(kept * d), which IS
    the SemDeDup state lower bound) into the persisted state — one
    O(batch) fragment committed under `batch_id` (commit_state: a
    replayed batch id is skipped). The construction marker is stamped
    before the first fold-in and checked on every later one."""
    check_construction(state_path, SEM_STATE_VERSION, stamp=True)
    rows = _sem_bucket_rows(fresh)
    commit_state(spark, state_path, rows, batch_id)
