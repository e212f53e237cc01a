"""Grid-binned spatial joins — the 2-D sibling of the 1-D binning in
operators/scale.py (binned_range_join / binned_interval_overlap_join).

Why a grid: Spark has no spatial join operator, and the naive radius
predicate `dx*dx + dy*dy <= r*r` is a theta join — Catalyst can only
plan it as BroadcastNestedLoopJoin / CartesianProduct, O(N*M) at any
scale. Hashing points into square cells of side = radius turns the
same semantics into ONE equi-join on (cell_x, cell_y): two points
within `r` of each other differ by at most one cell per axis
(pigeonhole), so probing a point's 3x3 neighborhood finds every true
match and the exact residual distance filter removes in-cell false
candidates. This is the uniform-grid spatial join of the DBMS
literature (and the same shape GeoSpark/Sedona plans), with cost
O(N + M + candidates) shuffle instead of O(N*M) compare.

Pair-dedup for the self-join comes free: only the LEFT side explodes
over its neighborhood; the RIGHT side sits in its unique home cell, so
a qualifying pair meets exactly once — no distinct shuffle (contrast
the claiming-bin rule the interval join needs when BOTH sides explode).

Integer discipline (the exactness-upgrades pattern): callers quantize
coordinates to integer-valued BIGINTs first; every cell id and squared
distance below is then integer math both engines compute identically,
so a registered query's oracle can state the radius-join SEMANTICS
directly (brute-force pair filter) and hash-match the grid plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Shift quantized coordinates non-negative before the floor division:
# Spark's `div` truncates toward zero while floor division rounds down,
# which disagree on negatives — on shifted non-negative ints they are
# the same function in both engines.
COORD_OFFSET = 1 << 20


ID_COL = "vec_id"
X_COL = "x"
Y_COL = "y"


def grid_radius_self_join(points: DataFrame, radius_q: int) -> DataFrame:
    """All unordered point pairs within `radius_q` (inclusive, squared
    integer metric), as (a_id, b_id, dist_sq_q) with a_id < b_id.

    `points[X_COL]`, `points[Y_COL]` must be integer-valued (quantized)
    BIGINTs with |coord| < COORD_OFFSET; `radius_q` the radius in the
    same quantized units. dist_sq_q = dx^2 + dy^2 stays exact for
    coordinates up to ~2^31, far beyond any quantization in use.

    Output density contract: pairs-within-r grows quadratically in
    point density BY SEMANTICS (same caveat as the interval-overlap
    join); the grid keeps the COMPUTE linear in candidates, it cannot
    shrink the answer.
    """
    if radius_q <= 0:
        raise ValueError(f"radius_q must be positive, got {radius_q}")
    q = points.select(
        F.col(ID_COL).alias("pid"),
        F.col(X_COL).cast("long").alias("px"),
        F.col(Y_COL).cast("long").alias("py"),
        F.expr(f"({X_COL} + {COORD_OFFSET}) div {int(radius_q)}").alias("cx"),
        F.expr(f"({Y_COL} + {COORD_OFFSET}) div {int(radius_q)}").alias("cy"),
    )
    neighbors = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx ->"
        " transform(sequence(-1, 1), dy -> struct(cx + dx AS nx, cy + dy AS ny)))))"
    )
    left = q.select(
        F.col("pid").alias("a_id"),
        F.col("px").alias("ax"),
        F.col("py").alias("ay"),
        neighbors.alias("nc"),
    ).select("a_id", "ax", "ay", F.col("nc.nx").alias("cx"), F.col("nc.ny").alias("cy"))
    right = q.select(
        F.col("pid").alias("b_id"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        "cx",
        "cy",
    )
    dist_sq = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        left.join(right, ["cx", "cy"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (dist_sq <= F.lit(int(radius_q) * int(radius_q)))
        )
        .select("a_id", "b_id", dist_sq.cast("long").alias("dist_sq_q"))
    )


def grid_density(points: DataFrame, cell_q: int) -> DataFrame:
    """Rasterize points into `cell_q`-sided square cells: one row per
    OCCUPIED cell with its point count. One hash agg, map-side
    combinable; output bounded by occupied-cell count, not points."""
    if cell_q <= 0:
        raise ValueError(f"cell_q must be positive, got {cell_q}")
    return (
        points.select(
            F.expr(f"({X_COL} + {COORD_OFFSET}) div {int(cell_q)}").alias("cx"),
            F.expr(f"({Y_COL} + {COORD_OFFSET}) div {int(cell_q)}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pts"))
    )


def grid_neighborhood_sum(density: DataFrame) -> DataFrame:
    """3x3 STENCIL over a sparse cell grid: for every occupied cell,
    the point count summed over itself and its 8 neighbors — the
    hotspot/heatmap smoothing kernel (the discrete core of Getis-Ord
    style statistics), computed WITHOUT a self-join: each cell
    SCATTERS its count to the 9 cells it contributes to (explode of a
    constant 9-element offset array — row-local), then one hash agg
    gathers per target cell; an inner join back to `density` keeps
    only real cells. Scatter-gather beats the equivalent
    band-condition self-join (|dx|<=1 AND |dy|<=1) because the agg is
    map-side combinable and there is no join-explosion intermediate;
    cost is 9 rows per OCCUPIED CELL (already aggregated), not per
    point."""
    scattered = density.select(
        F.expr(
            "explode(flatten(transform(sequence(-1, 1), dx ->"
            " transform(sequence(-1, 1), dy ->"
            " struct(cx + dx AS tx, cy + dy AS ty)))))"
        ).alias("t"),
        "n_pts",
    ).select(F.col("t.tx").alias("cx"), F.col("t.ty").alias("cy"), "n_pts")
    sums = scattered.groupBy("cx", "cy").agg(
        F.sum("n_pts").cast("long").alias("nbr_sum")
    )
    return density.join(sums, ["cx", "cy"]).select(
        "cx", "cy", "n_pts", "nbr_sum"
    )
