"""Distributed PCA / whitening over an embedding column — the linear
pre-conditioning step embedding pipelines run before indexing or
near-dup detection (Jégou & Chum 2012 "Negative evidences and
co-occurrences in image retrieval: the benefit of PCA and whitening";
the same rotation family OPQ learns, but variance-ordered): center,
rotate onto the principal axes, optionally scale each axis to unit
variance so cosine/L2 stop being dominated by a few high-variance
directions.

    fit_pca      : mean + covariance eigendecomposition. Default =
                   the repo's bounded ORDER-INDEPENDENT driver sample
                   (the ``_train_quantizer`` / ``train_pq`` contract:
                   lowest ``train_limit`` ids, deterministic for the
                   exact-replay oracle pattern). ``exact=True`` fits
                   on the FULL corpus instead via ONE mapInPandas
                   partial-sums pass — the exchange carries
                   partitions × (d² + d + 1) scalars, never rows —
                   for when the sample isn't representative
                   (documented trade: float summation order follows
                   partitioning, so exact-mode models are
                   reproducible only per layout).
    pca_project  : map-side projection y = (x − μ)·V[:, :k]
                   (÷ √eigval per axis when ``whiten``) — the model
                   ships with the task closure (d·k + d doubles,
                   broadcast-sized BY CONSTRUCTION, the PQ-codebook
                   artifact pattern); the plan is scan → project,
                   no shuffle.

Determinism contract: the sample path collects train_limit + 1 rows
and REQUIRES strictly-increasing ids across them (a tied/duplicate id
at the cut would make the sample layout-dependent — checked, not
assumed), so it collects the same rows in the same order
on any partitioning and trains driver-side in numpy (LAPACK ``eigh``
on identical input → identical bits — the opq rotation precedent),
with each component's sign fixed by "largest-|entry| coordinate is
positive", so the model is exactly re-trainable by an oracle.

No counterpart in the reference repo (533-line tableone engine);
extends the embedding family (similarity / ml_lsh / pq / opq).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PCAModel:
    """``mean``: (d,); ``components``: (d, k) columns = principal axes,
    variance-descending, sign-fixed; ``eigvals``: (k,) the matching
    variances (≥ 0 up to LAPACK noise)."""

    mean: np.ndarray
    components: np.ndarray
    eigvals: np.ndarray


def _eig_model(mu: np.ndarray, cov: np.ndarray, k: int) -> PCAModel:
    w, V = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    w = w[order]
    V = V[:, order]
    # deterministic sign: the largest-|entry| coordinate of each axis
    # is positive (ties by lowest index via argmax) — eigenvectors are
    # only defined up to sign and LAPACK's choice is not a contract
    for j in range(V.shape[1]):
        i = int(np.argmax(np.abs(V[:, j])))
        if V[i, j] < 0:
            V[:, j] = -V[:, j]
    return PCAModel(mean=mu, components=V, eigvals=w)


def fit_pca(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    train_limit: int = 16384,
    exact: bool = False,
) -> PCAModel:
    """Fit the PCA model. Sample path (default): the ``train_limit``
    lowest-``id_col`` rows, collected in id order — deterministic on
    any partitioning (a bare ``limit`` is not; the ``_train_quantizer``
    rationale). ``exact=True``: full-corpus (n, Σx, Σxxᵀ) in one
    partial-summed pass; covariance = Σxxᵀ/n − μμᵀ (fine for O(1)
    embedding magnitudes; this is not the path for wildly-scaled
    features). NULL vectors are dropped; ragged dims raise."""
    if train_limit <= 0:
        raise ValueError(f"train_limit must be positive, got {train_limit}")
    if k is not None and k < 1:
        # the d-dependent half of the check runs after fitting; the
        # trivially-invalid half must not cost a corpus scan in exact
        # mode (self-review r11)
        raise ValueError(f"k must be in [1, d], got {k}")
    src = vectors.where(F.col(vec_col).isNotNull())
    if exact:
        n, s, g = _exact_sums(src, vec_col)
        if n < 2:
            raise ValueError(f"need at least 2 vectors to fit PCA, got {n}")
        mu = s / n
        cov = g / n - np.outer(mu, mu)
    else:
        # collect ONE PAST the limit: strictly-increasing ids across
        # limit+1 rows prove the cut is tie-free, i.e. the sample is
        # the same row SET in the same order on any partitioning —
        # orderBy alone is not a total order under duplicate ids and
        # would silently break the exact-retrain oracle contract
        # (self-review r11)
        rows = (
            src.select(F.col(vec_col).cast("array<double>"), F.col(id_col))
            .orderBy(id_col)
            .limit(train_limit + 1)
            .collect()
        )
        ids = [r[1] for r in rows]
        if any(a >= b for a, b in zip(ids, ids[1:])):
            raise ValueError(
                f"{id_col!r} is not unique within the ordered sample — "
                "the deterministic-sample contract needs unique ids"
            )
        rows = rows[:train_limit]
        if len(rows) < 2:
            raise ValueError(
                f"need at least 2 vectors to fit PCA, got {len(rows)}"
            )
        X = np.array([r[0] for r in rows], dtype=np.float64)
        mu = X.mean(axis=0)
        Xc = X - mu
        cov = (Xc.T @ Xc) / len(X)
    d = mu.shape[0]
    kk = d if k is None else k
    if not 1 <= kk <= d:
        raise ValueError(f"k must be in [1, {d}], got {k}")
    return _eig_model(mu, cov, kk)


def _exact_sums(src: DataFrame, vec_col: str):
    """(n, Σx, Σxxᵀ) over the full corpus: each partition emits ONE
    (count, d sums, d² sums) row — the exchange is partitions ×
    (d² + d + 1) scalars regardless of row count."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-batch GEMM (X.sum / XᵀX), not a per-row np.outer loop —
        # the d² work per row is where the whole pass spends its time
        n = 0
        s = None
        g = None
        for pdf in batches:
            if pdf.empty:
                continue
            dims = {len(v) for v in pdf["v"]}
            if s is not None:
                dims.add(len(s))
            if len(dims) != 1:
                raise ValueError(f"ragged embedding dims: {sorted(dims)}")
            X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if s is None:
                s = np.zeros(X.shape[1])
                g = np.zeros((X.shape[1], X.shape[1]))
            n += X.shape[0]
            s += X.sum(axis=0)
            g += X.T @ X
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.reshape(-1).tolist()]}
            )

    parts = src.select(F.col(vec_col).alias("v")).mapInPandas(kernel, schema)
    rows = parts.collect()  # ≤ one row per partition — bounded artifact
    if not rows:
        return 0, None, None
    dims = {len(r["s"]) for r in rows}
    if len(dims) != 1:
        raise ValueError(f"ragged embedding dims across partitions: {dims}")
    d = dims.pop()
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]).reshape(d, d) for r in rows], axis=0)
    return n, s, g


def pca_project(
    df: DataFrame,
    model: PCAModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
    eps: float = 0.0,
) -> DataFrame:
    """(id, y) with ``y = (x − μ) · V`` per row (array<double>, length
    k), each axis ÷ √(eigval + eps) when ``whiten`` — map-side only
    (scan → project, the model rides in the task closure). Whitening
    REFUSES non-positive axis variances (eigval + eps ≤ 0 would blow
    up or flip an axis — pass ``eps`` or drop the axis via ``k`` at
    fit time). NULL vectors project to NULL.

    Each Arrow batch is ONE (batch × d)·(d × k) GEMM (r12 — the
    per-row matmul loop paid Python dispatch per vector). BLAS uses
    different small-n kernels per batch size, so the LOW BITS of y
    can vary with Arrow batch boundaries (≈1e-16 — measured; the
    opq fold-vs-BLAS seam class). Consumers needing bit-stability
    across layouts must round (the graded oracle does)."""
    V = model.components
    if whiten:
        vals = model.eigvals + eps
        if not np.all(vals > 0):
            raise ValueError(
                "whitening needs every selected eigval + eps > 0 "
                f"(got min {float(vals.min())!r}); raise eps or lower k"
            )
        V = V / np.sqrt(vals)  # column-wise
    mu = model.mean
    d, kk = V.shape

    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from tableone_pyspark_spark.plans.layout import rebalance

    src = rebalance(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    schema = T.StructType(
        [src.schema["id"], T.StructField("y", T.ArrayType(T.DoubleType()))]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one (batch × d)·(d × k) GEMM per Arrow batch; NULL rows are
        # scattered back as None around the stacked non-null block
        for pdf in batches:
            vals = list(pdf["v"])
            idx = [i for i, v in enumerate(vals) if v is not None]
            ys: list = [None] * len(vals)
            if idx:
                bad = {len(vals[i]) for i in idx} - {d}
                if bad:
                    raise ValueError(
                        f"embedding dim {sorted(bad)[0]} != model {d}"
                    )
                X = np.vstack(
                    [np.asarray(vals[i], dtype=np.float64) for i in idx]
                )
                Y = (X - mu) @ V
                for r, i in enumerate(idx):
                    ys[i] = Y[r].tolist()
            yield pd.DataFrame({"id": pdf["id"], "y": ys})

    return src.mapInPandas(kernel, schema)


def pca_project_py(
    x: list[float] | None, model: PCAModel, whiten: bool = False,
    eps: float = 0.0,
) -> list[float] | None:
    """Row twin of :func:`pca_project` — the differential-pin /
    oracle-literal seam (generate per-column fold literals from
    ``model`` and replay y_j = Σ_i (x_i − μ_i)·V[i,j] in SQL)."""
    if x is None:
        return None
    V = model.components
    if whiten:
        vals = model.eigvals + eps
        if not np.all(vals > 0):
            # identical refusal to pca_project — a twin that silently
            # returned NaN here would encode garbage into oracle fold
            # literals the real operator refuses (self-review r11)
            raise ValueError(
                "whitening needs every selected eigval + eps > 0 "
                f"(got min {float(vals.min())!r}); raise eps or lower k"
            )
        V = V / np.sqrt(vals)
    return ((np.asarray(x, dtype=np.float64) - model.mean) @ V).tolist()
