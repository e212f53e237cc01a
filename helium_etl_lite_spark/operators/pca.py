"""Distributed PCA over an embedding column.

The 100 TB-safe decomposition: the only thing that ever leaves the
executors is a d x d covariance accumulator (d = embedding dimension,
64 here -> 4096 doubles), built in ONE pass with per-batch numpy
matmuls inside mapInPandas. The eigendecomposition itself is a
driver-side numpy call on that d x d matrix — O(d^3) work on 32 KB of
state, independent of corpus size — and the projection back over the
corpus is a narrow mapInPandas matmul against the broadcast component
matrix. No row ever shuffles; the reduce moves n_partitions * d^2
doubles.

This is the standard big-data PCA factoring (covariance sketch +
small dense solve) rather than a distributed Lanczos — exact for the
full covariance spectrum, which is what whitening/compression of
embedding columns needs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _moment_batches(vec_col: str):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0)],
                    "xtx": [(X.T @ X).ravel()],
                }
            )

    return gen


VEC_COL = "e"


def fit_pca(df: DataFrame, k: int = 8):
    """One-pass covariance + driver eigh. Returns (mean: np.ndarray[d],
    components: np.ndarray[k, d], explained_var: np.ndarray[k]).

    The aggregation sums the per-batch moment rows elementwise via
    posexplode + sum-by-index: with d=64 that is 4096 * n_batches tiny
    rows through one hash agg — control-plane sized at any corpus
    scale. Eigenvector signs are canonicalized (largest-|x| component
    positive) so repeated fits on the same data agree.
    """
    n_total, s, xtx = _moments_of(df, VEC_COL)
    mean = s / n_total
    cov = xtx / n_total - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    # sign canonicalization: largest-|x| entry of each component positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, evals[order]


ID_COL = "vec_id"
OUT_COL = "pc"


def project(df: DataFrame, mean: np.ndarray, components: np.ndarray) -> DataFrame:
    """Project each vector onto the fitted components: a narrow
    mapInPandas matmul against the closure-captured (k, d) matrix —
    no shuffle, no join, scales linearly."""
    mu = mean.copy()
    W = components.copy()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[VEC_COL].to_numpy()).astype(np.float64)
            P = (X - mu) @ W.T
            yield pd.DataFrame({ID_COL: pdf[ID_COL], OUT_COL: list(P)})

    return df.select(ID_COL, VEC_COL).mapInPandas(
        gen, schema=f"{ID_COL} long, {OUT_COL} array<double>"
    )


def _moments_of(df: DataFrame, vec_col: str):
    """(n, sum, X^T X) of `df` — the sufficient statistics of PCA. d is
    taken from the first row."""
    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("moments: input has no rows (or a NULL first vector)")
    d = len(head[0])
    moments = df.select(vec_col).mapInPandas(
        _moment_batches(vec_col),
        schema="n long, s array<double>, xtx array<double>",
    )
    summed = (
        moments.select("n", F.posexplode(F.concat("s", "xtx")).alias("i", "v"))
        .groupBy("i")
        .agg(
            F.sum("v").alias("v"),
            F.sum(F.when(F.col("i") == 0, F.col("n"))).alias("n0"),
        )
    )
    rows = summed.collect()
    n_total = next(int(r["n0"]) for r in rows if r["i"] == 0)
    flat = np.zeros(d + d * d)
    for r in rows:
        flat[r["i"]] = r["v"]
    return n_total, flat[:d], flat[d:].reshape(d, d)

