"""Distributed PCA over embedding columns (L-ext: the dimensionality
reduction pass that precedes ANN indexing / clustering in an
embedding-curation pipeline).

The 100 TB shape is the classic two-phase moment computation:

- **Fit** is ONE distributed pass that reduces the corpus to its
  sufficient statistics — per-Arrow-batch partials ``(n, Σx, XᵀX)`` via
  ``mapInPandas`` (BLAS does the Gram product per batch), then a
  driver-side combine of the tiny partials (each is 1 + d + d² doubles;
  at d = 64 that is ~33 KB per batch — bounded by batch count, never by
  rows). The d×d eigendecomposition is numpy on the driver: for
  embedding dims (≤ a few thousand) it is microseconds and NOT worth
  distributing.
- **Transform** is pure JVM expression: the component matrix enters the
  plan as ONE nested-array literal (the clustering.py Janino lesson —
  k·d scalar literal nodes would blow up analysis/codegen), and each
  projection is ``dot(vec, cⱼ) - mean·cⱼ`` — the mean-centering folds
  into a per-component constant so the row path is k dot products, no
  per-element subtraction, no Python.

Determinism: eigenvector SIGN is arbitrary in any eigensolver, so each
component is normalized to make its largest-|weight| entry positive;
float partial-sum order across batches can wiggle the last ulp (property
tests use tolerances, as with every float reduction).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PCAModel:
    mean: np.ndarray  # (d,)
    components: np.ndarray  # (k, d) rows = top components, descending
    explained_variance: np.ndarray  # (k,) eigenvalues, descending
    explained_ratio: np.ndarray  # (k,) eigenvalue / total variance


def pca_fit(df: DataFrame, vec_col: str, k: int) -> PCAModel:
    """One-pass moment reduction + driver-side eigh. ``df`` needs only
    ``vec_col`` (``array<float>``); k ≤ d."""
    import pandas as pd

    def partials(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    rows = (
        df.select(vec_col)
        .mapInPandas(partials, schema="n long, s array<double>, g array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("pca_fit: empty input")
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in rows:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    # sign convention: largest-|weight| entry of each component positive
    for j in range(comps.shape[0]):
        if comps[j, np.argmax(np.abs(comps[j]))] < 0:
            comps[j] = -comps[j]
    ev = np.maximum(evals[order], 0.0)
    total = max(float(evals.clip(min=0).sum()), 1e-300)
    return PCAModel(
        mean=mean,
        components=comps,
        explained_variance=ev,
        explained_ratio=ev / total,
    )


def pca_transform(
    df: DataFrame,
    vec_col: str,
    model: PCAModel,
    out_col: str = "proj",
    center: bool = True,
) -> DataFrame:
    """Project ``vec_col`` onto the model's components — JVM-side only.

    ``center=False`` projects without subtracting the mean: the right
    mode for cosine-similarity pipelines, where uncentered projection
    approximately preserves dot products (orthonormal basis) while
    centering would change every angle."""
    vec = F.col(vec_col)
    m: Column = F.lit([[float(v) for v in comp] for comp in model.components])
    consts: Column = F.lit(
        [float(model.mean @ comp) if center else 0.0 for comp in model.components]
    )
    dots = F.transform(
        m,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return df.withColumn(out_col, F.zip_with(dots, consts, lambda p, c0: p - c0))


def quantize_half_away(X: "np.ndarray") -> "np.ndarray":
    """Round the float64 array half-AWAY-from-zero on the exact double —
    the same function as Spark's F.round and DuckDB's round(), which the
    oracle contract requires. The naive floor(X+0.5) is wrong on
    boundary doubles (X = 0.49999999999999994: the IEEE sum X+0.5 rounds
    up to exactly 1.0, but the true value is below one half — and even a
    post-hoc q−X check fails, because that subtraction ties to 0.5 too).
    Instead compare the EXACT fractional part: X − floor(X) (resp.
    ceil(X) − X) is computed without rounding for |X| < 2^52, so
    ``frac >= 0.5`` is the true half-away decision."""
    fl = np.floor(X)
    cl = np.ceil(X)
    q = np.where(
        X >= 0,
        fl + (X - fl >= 0.5),
        cl - (cl - X >= 0.5),
    )
    return q.astype(np.int64)


def moment_partials_fn(vec_col: str, q_scale: int):
    """Per-Arrow-batch EXACT integer moments (n, Σx, XᵀX) of the
    half-away-quantized vectors — the mapInPandas closure of
    pca_power_fixed. int64 matmul wraps silently on overflow, so the
    batch is guarded: max|x|²·rows must stay below 2^63 — a violation
    raises loudly instead of corrupting the moments."""
    import pandas as pd

    def partials(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * q_scale
            Xq = quantize_half_away(X)
            m = int(np.abs(Xq).max()) if Xq.size else 0
            if m and m * m * len(Xq) >= (1 << 63):
                raise ValueError(
                    "moment pass: |x|*q_scale too large — the int64 Gram "
                    "accumulator would overflow silently; lower q_scale"
                )
            yield pd.DataFrame(
                {
                    "n": [len(Xq)],
                    "s": [Xq.sum(axis=0).tolist()],
                    "g": [(Xq.T @ Xq).ravel().tolist()],
                }
            )

    return partials


def pca_power_fixed(
    df: DataFrame,
    vec_col: str,
    dim: int,
    iters: int = 8,
    q_scale: int = 1000,
    v_scale: int = 1_000_000,
    out_col: str = "p1",
) -> tuple[list[int], DataFrame]:
    """Top-principal-direction projection by EXACT integer power
    iteration — the oracle-checkable twin of :func:`pca_fit` (the l45b
    fixed-point-twin playbook): every stage is integer arithmetic, so a
    plain-SQL oracle reproduces it value-for-value.

    Same architecture as pca_fit — ONE bounded moment pass (per-batch
    int64 partials via mapInPandas; integer sums are reduction-order-
    independent, so the distributed combine is exact, unlike the float
    moments of pca_fit), a driver-side d×d solve on ~d² ints of bounded
    state, and a pure-JVM literal projection. The eigensolver is
    replaced by ``iters`` rounds of power iteration on the integer
    scaled covariance ``n·G − S·Sᵀ`` of half-away-from-zero
    millis-quantized vectors, renormalizing v to max|v| = v_scale by
    integer division each round (sign-split so floor == truncate on the
    non-negative magnitudes — identical in Python, Spark and DuckDB).
    Power iteration converges to the dominant eigenvector at rate
    (λ2/λ1)^k; the twin pins the EXACT k-th iterate, not the limit.

    Returns ``(v, df + out_col)``: the integer direction (len = dim,
    entries in [−v_scale, v_scale]) and the input with the integer
    projection column ``out_col`` = Σᵢ round(xᵢ·q_scale)·vᵢ.
    """
    rows = (
        df.select(vec_col)
        .mapInPandas(
            moment_partials_fn(vec_col, q_scale),
            schema="n long, s array<long>, g array<long>",
        )
        .collect()
    )
    if not rows:
        raise ValueError("pca_power_fixed: empty input")
    n = sum(int(r["n"]) for r in rows)
    s = [0] * dim
    g = [[0] * dim for _ in range(dim)]
    for r in rows:
        for i, v in enumerate(r["s"]):
            s[i] += int(v)
        flat = r["g"]
        for i in range(dim):
            base = i * dim
            gi = g[i]
            for j in range(dim):
                gi[j] += int(flat[base + j])
    # scaled covariance (×n²): exact python ints, no overflow possible
    c = [[n * g[i][j] - s[i] * s[j] for j in range(dim)] for i in range(dim)]
    v = [v_scale] * dim
    for _ in range(iters):
        w = [sum(c[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(wi) for wi in w)
        if m == 0:
            raise ValueError("pca_power_fixed: zero covariance")
        v = [
            -((-wi) * v_scale // m) if wi < 0 else wi * v_scale // m
            for wi in w
        ]
    vlit = F.lit(v)
    from oeem_etl_spark.functions.fixedpoint import qlong

    xq = F.transform(
        F.col(vec_col),
        lambda x: qlong(x.cast("double"), q_scale),
    )
    proj = F.aggregate(
        F.zip_with(xq, vlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return v, df.withColumn(out_col, proj)
