"""Distributed exact moment (Gram) matrix over an embedding column — the
core primitive behind linear models, PCA, ridge regression and whitening
at corpus scale: G = X^T X plus per-dimension sums, computed in one pass.

No reference counterpart. The scale shape matters more than the math:
a naive explode spells d^2 rows PER VECTOR (x64 dims = 2,080 upper-
triangle pairs -> a 2,080x row fan-out before the shuffle). Here each
Arrow batch folds into ONE d x d int64 partial (numpy ``M.T @ M`` — BLAS
on a few thousand rows), and only the d(d+1)/2 partial entries per batch
cross the wire. Shuffle volume is O(batches x d^2), independent of row
count — the same partial-aggregation argument as SCALING.md §11, applied
to a matrix-valued aggregate.

Exactness: values are scaled to integer micros with sign-aware
half-away-from-zero rounding (numpy's ``round`` is banker's — WRONG here;
DuckDB/Spark ``round`` are half-away-from-zero), so partials are exact
int64 (|micros| <= 1e6 -> per-row products <= 1e12; a 1e6-row batch sums
to <= 1e18 < 2^63). That bound is ENFORCED, not assumed: ``partials``
raises if ``max|micros| * max|micros| * batch_rows`` could exceed int64
(numpy would wrap silently) — callers with larger magnitudes (e.g. an
unbounded label column through ``ridge_fit_predict``) fail loudly
instead of corrupting the fit. Cross-batch merge sums as decimal(38,0), exact to 1e38 — at a
1e9-row, 1000-executor scale int64 merge WOULD overflow; decimal is the
documented merge type. Output is cast to BIGINT for the oracle (fixture
magnitudes fit comfortably).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _round_half_away(a):
    import numpy as np

    return np.sign(a) * np.floor(np.abs(a) + 0.5)


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", scale: float = 1e6
) -> DataFrame:
    """Upper-triangle exact integer Gram matrix of ``vec_col``:
    rows (i, j, s) with 1-based indices, i <= j, and
    s = sum over rows of micros_i * micros_j (micros = round(x*scale))."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            vecs = pdf[vec_col].to_numpy()
            if len(vecs) == 0:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            micros = _round_half_away(m * scale).astype(np.int64)
            # int64 overflow guard: the in-batch product accumulates as
            # int64, and numpy WRAPS silently on overflow. Bound the batch
            # contribution by max|micros|^2 * rows and refuse to proceed if
            # it could exceed 2^63-1 (the decimal(38,0) merge only protects
            # the cross-batch sum, not this product).
            peak = float(np.max(np.abs(micros))) if micros.size else 0.0
            if peak * peak * len(micros) > float(2**63 - 1):
                raise OverflowError(
                    f"gram_matrix batch would overflow int64: "
                    f"max|micros|={peak:.3g}, rows={len(micros)} -> bound "
                    f"{peak * peak * len(micros):.3g} > 2^63-1. Reduce "
                    f"`scale`, normalize the input column (ridge labels "
                    f"must be bounded), or shrink Arrow batches via "
                    f"spark.sql.execution.arrow.maxRecordsPerBatch."
                )
            g = micros.T @ micros  # d x d int64, exact (guard above)
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int32"),
                    "j": (ju + 1).astype("int32"),
                    "partial": g[iu, ju],
                }
            )

    parts = df.select(vec_col).mapInPandas(
        partials, schema="i int, j int, partial long"
    )
    return (
        parts.groupBy("i", "j")
        .agg(
            F.sum(F.col("partial").cast("decimal(38,0)"))
            .cast("long")
            .alias("s")
        )
    )


def pca_project(
    df: DataFrame, vec_col: str = "embedding", k: int = 2, scale: float = 1e6
) -> DataFrame:
    """Project each vector onto the top-``k`` principal axes of the
    (uncentered) second-moment matrix — the standard embedding-PCA shape.

    Scale anatomy: the only driver-side object is the d x d Gram matrix
    (``gram_matrix`` collect — d^2 longs, bounded by dimension, never by
    rows; same bounded-collect discipline as ``operators/ranking.py``).
    The eigendecomposition is numpy on that d x d matrix (microseconds),
    and the projection is a broadcast-free literal expression: each
    component is one ``aggregate(zip_with(...))`` dot product against the
    eigenvector embedded as an array literal, fully inside codegen.
    Deterministic given the data (exact integer Gram -> LAPACK eigh on
    identical input), but NOT SQL-expressible — invariants pinned in
    tests; the registry's hash-gated PCA entry is the 2-feature
    closed-form twin ``pca2_project``."""
    import numpy as np

    rows = gram_matrix(df, vec_col, scale).collect()
    d = max(r["j"] for r in rows)
    g = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        g[r["i"] - 1, r["j"] - 1] = r["s"]
        g[r["j"] - 1, r["i"] - 1] = r["s"]
    g /= scale * scale  # back to original units
    vals, vecs = np.linalg.eigh(g)  # ascending
    order = np.argsort(vals)[::-1][:k]
    out = df
    for c, idx in enumerate(order, start=1):
        v = vecs[:, idx]
        # eigh's sign is arbitrary; fix it so results are reproducible
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        lit = F.array(*[F.lit(float(x)) for x in v])
        out = out.withColumn(
            f"pc{c}",
            F.aggregate(
                F.zip_with(
                    F.col(vec_col).cast("array<double>"),
                    lit,
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    return out.drop(vec_col)


def _eig2(a: float, b: float, c: float) -> tuple[float, float, float, float]:
    """Closed-form sign-fixed eigenvectors of the symmetric 2x2 matrix
    [[a, b], [b, c]], descending eigenvalue order: returns
    (v1x, v1y, v2x, v2y).

    Every operation is IEEE-754 exact-rounded (+, -, *, /, sqrt) and the
    expression ORDER is frozen, so any engine replaying the identical
    expression tree on identical input doubles produces bit-identical
    eigenvectors — this function is the literal mirror of the PCA2_SQL
    oracle's CTE chain (plans/similarity_queries.py); change them TOGETHER.
    Sign fix: the largest-|component| of each eigenvector is positive
    (ties by taking the x component), so the arbitrary +-v ambiguity
    can't flip between engines."""
    import math

    disc = math.sqrt((a - c) * (a - c) + 4.0 * (b * b))
    l1 = ((a + c) + disc) / 2.0
    if b != 0.0:
        ux, uy = b, l1 - a
    elif a >= c:
        ux, uy = 1.0, 0.0
    else:
        ux, uy = 0.0, 1.0
    vx = ux / math.sqrt(ux * ux + uy * uy)
    vy = uy / math.sqrt(ux * ux + uy * uy)
    if (vx if abs(vx) >= abs(vy) else vy) < 0.0:
        vx, vy = -vx, -vy
    wx, wy = -vy, vx
    if (wx if abs(wx) >= abs(wy) else wy) < 0.0:
        wx, wy = -wx, -wy
    return vx, vy, wx, wy


def pca2_project(
    df: DataFrame, vec_col: str = "embedding", scale: float = 1e6
) -> DataFrame:
    """Hash-gateable 2-feature PCA: project (dim1, dim2) of ``vec_col``
    onto the two principal axes of their exact-integer second-moment
    matrix; scores come back micro-rounded as BIGINT columns
    ``pc1_micros``/``pc2_micros`` (``vec_col`` dropped).

    This is the ORACLE-EXACT member of the PCA family (r6 verdict task 5):
    the general-d ``pca_project`` needs LAPACK ``eigh``, which no SQL
    engine replays bit-identically, so it stays a rows-only registry
    entry — here the 2x2 eigensystem has a CLOSED FORM (``_eig2``) built
    purely from IEEE exact-rounded ops in a frozen order, the moment
    entries are exact integers (``gram_matrix``), and the projection is
    micro-rounded, so DuckDB running PCA2_SQL reproduces every output
    bit for bit. Same scale anatomy as ``pca_project``: one bounded
    driver collect (3 moment entries), literal-embedded codegen'd
    projection, shuffle independent of row count."""
    vecs = F.col(vec_col).cast("array<double>")
    g2 = gram_matrix(df.select(F.slice(vecs, 1, 2).alias("v2")), "v2", scale)
    ent = {(r["i"], r["j"]): r["s"] for r in g2.collect()}
    a, b, c = float(ent[(1, 1)]), float(ent[(1, 2)]), float(ent[(2, 2)])
    v1x, v1y, v2x, v2y = _eig2(a, b, c)
    e1, e2 = F.element_at(vecs, 1), F.element_at(vecs, 2)
    return (
        df.withColumn(
            "pc1_micros",
            F.round((F.lit(v1x) * e1 + F.lit(v1y) * e2) * F.lit(1e6)).cast("long"),
        )
        .withColumn(
            "pc2_micros",
            F.round((F.lit(v2x) * e1 + F.lit(v2y) * e2) * F.lit(1e6)).cast("long"),
        )
        .drop(vec_col)
    )


def _det3(a11, a12, a13, a21, a22, a23, a31, a32, a33) -> float:
    """3x3 determinant by first-row cofactor expansion in a FROZEN
    operation order — the literal mirror of RIDGE2_SQL's ``w`` CTE
    (plans/similarity_queries.py); change them together."""
    return (
        a11 * (a22 * a33 - a23 * a32)
        - a12 * (a21 * a33 - a23 * a31)
        + a13 * (a21 * a32 - a22 * a31)
    )


def ridge2_fit_predict(
    df: DataFrame,
    vec_col: str = "embedding",
    target_col: str = "label",
    reg: float = 0.001,
    scale: float = 1e6,
) -> DataFrame:
    """Hash-gateable 2-feature ridge: closed-form fit of ``target_col``
    on (dim1, dim2) of ``vec_col`` plus an intercept, scored back over
    the corpus micro-rounded as BIGINT ``pred_micros``.

    The ORACLE-EXACT member of the ridge family (r6 verdict task 5): the
    general-d ``ridge_fit_predict`` solves its system with LAPACK, which
    no SQL engine replays bit-identically — here the 3x3 normal system
    (2 features + unpenalized intercept) is solved by CRAMER'S RULE with
    a frozen cofactor-expansion order (``_det3``) over exact-integer
    augmented-Gram sufficient statistics, so DuckDB running RIDGE2_SQL
    reproduces every prediction bit for bit. One exact integer pass for
    the statistics (augmented ``gram_matrix``), one bounded driver solve,
    literal-embedded codegen'd scoring — same anatomy as the full-d
    form."""
    vecs = F.col(vec_col).cast("array<double>")
    aug = df.select(
        F.concat(
            F.slice(vecs, 1, 2),
            F.array(F.lit(1.0), F.col(target_col).cast("double")),
        ).alias("v4")
    )
    g = {
        (r["i"], r["j"]): float(r["s"])
        for r in gram_matrix(aug, "v4", scale).collect()
    }
    # normal matrix in original units (micros^2 / 1e12), ridge penalty on
    # the two feature diagonals only — intercept (3rd) unpenalized
    m11 = g[(1, 1)] / 1e12 + reg
    m12 = g[(1, 2)] / 1e12
    m13 = g[(1, 3)] / 1e12
    m22 = g[(2, 2)] / 1e12 + reg
    m23 = g[(2, 3)] / 1e12
    m33 = g[(3, 3)] / 1e12
    r1 = g[(1, 4)] / 1e12
    r2 = g[(2, 4)] / 1e12
    r3 = g[(3, 4)] / 1e12
    det = _det3(m11, m12, m13, m12, m22, m23, m13, m23, m33)
    w1 = _det3(r1, m12, m13, r2, m22, m23, r3, m23, m33) / det
    w2 = _det3(m11, r1, m13, m12, r2, m23, m13, r3, m33) / det
    w0 = _det3(m11, m12, r1, m12, m22, r2, m13, m23, r3) / det
    e1, e2 = F.element_at(vecs, 1), F.element_at(vecs, 2)
    pred = (F.lit(w1) * e1 + F.lit(w2) * e2) + F.lit(w0)
    return df.withColumn(
        "pred_micros", F.round(pred * F.lit(1e6)).cast("long")
    ).drop(vec_col)


def ridge_fit_predict(
    df: DataFrame,
    vec_col: str = "embedding",
    target_col: str = "label",
    reg: float = 1e-3,
    scale: float = 1e6,
) -> DataFrame:
    """Closed-form ridge regression of ``target_col`` on ``vec_col`` with
    an intercept, scored back over the corpus.

    One-pass sufficient statistics via the AUGMENTED Gram trick: append
    [1.0, y] to each vector and reuse ``gram_matrix`` — the (d+2)x(d+2)
    matrix then contains X'ᵀX' (features+intercept), X'ᵀy and yᵀy in one
    exact integer aggregate; no second scan, no float-order dependence.
    The driver solves a (d+1) system (numpy, microseconds) and the scoring
    pass is a literal-embedded dot product inside codegen — the same
    bounded-driver/broadcast-free anatomy as ``pca_project``."""
    import numpy as np

    aug = df.withColumn(
        "__aug",
        F.concat(
            F.col(vec_col).cast("array<double>"),
            F.array(F.lit(1.0), F.col(target_col).cast("double")),
        ),
    )
    rows = gram_matrix(aug, "__aug", scale).collect()
    m = max(r["j"] for r in rows)  # d + 2
    g = np.zeros((m, m), dtype=np.float64)
    for r in rows:
        g[r["i"] - 1, r["j"] - 1] = r["s"]
        g[r["j"] - 1, r["i"] - 1] = r["s"]
    g /= scale * scale
    d = m - 2  # feature dims (last two = intercept, target)
    xtx = g[: d + 1, : d + 1]  # features + intercept block
    xty = g[: d + 1, d + 1]
    # no penalty on the intercept term
    pen = np.eye(d + 1) * reg
    pen[d, d] = 0.0
    w = np.linalg.solve(xtx + pen, xty)
    coef, intercept = w[:d], float(w[d])
    lit = F.array(*[F.lit(float(c)) for c in coef])
    pred = (
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"), lit, lambda a, b: a * b
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.lit(intercept)
    )
    return df.withColumn("pred", pred).drop(vec_col)
