"""Product quantization (PQ) for approximate nearest neighbor at
100 TB scale (Jégou, Douze & Schmid 2011, "Product Quantization for
Nearest Neighbor Search", TPAMI — the FAISS `PQ`/`IVFPQ` family).

Why it matters beyond the existing IVF/LSH operators: IVF prunes
WHICH vectors are scanned; PQ compresses WHAT is scanned — a d-dim
float vector becomes m sub-codes (m bytes at k=256, m nibbles at
k=16), so a 100 TB embedding corpus scans from RAM-resident codes and
distances come from per-query lookup tables instead of d-dim float
math (asymmetric distance computation, ADC).

Spark shapes, mirrored from the IVF family (`operators/ml_lsh.py`):
  - training: per-SUBSPACE seeded Lloyd KMeans on the bounded,
    ORDER-INDEPENDENT driver sample (lowest ``train_limit`` ids —
    same order-independence argument as ``_train_quantizer``), reusing
    the exact ``_kmeans_numpy`` arithmetic so the oracle replay
    pattern (retrain identically, embed centroid literals in SQL)
    carries over. Codebook is m × k × (d/m) floats — KBs, broadcast
    by construction. Memoized per (plan, params).
  - encode: ONE Arrow-vectorized projection — per subspace an argmin
    over k squared distances (ties → lowest code, numpy argmin).
    Row-local, zero shuffle.
  - search: per-query LUT (m × k partial squared distances) built
    once, then ADC distance = sum of m table lookups per corpus row —
    an Arrow kernel over the codes table with the query block
    broadcast in the closure; global top-k per query via the same
    bounded-rank shape as ivf_topk (never a full sort).

Determinism contract: training, codes, and ADC distances are pure
float64 arithmetic of (sample, seed) — any engine reproduces them, so
codes and distances are exact-replayable (the `_ivf_centroids`
oracle pattern). No counterpart in the reference repo; extends the
similarity family (BASELINE.json north star).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tableone_pyspark_spark.core.memo import memo
from tableone_pyspark_spark.core.memo import memo_key as _memo_key
from tableone_pyspark_spark.operators.ml_lsh import _kmeans_numpy


class PQCodebook:
    """m per-subspace codebooks: ``C[s]`` is (k, d/m) float64."""

    __slots__ = ("C", "m", "k", "dsub")

    def __init__(self, C: np.ndarray):
        self.C = C
        self.m, self.k, self.dsub = C.shape

    @property
    def dim(self) -> int:
        return self.m * self.dsub


def train_pq(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    train_limit: int = 16384,
) -> PQCodebook:
    """Train the m × ``n_codes`` product codebook on the bounded
    ordered driver sample. The embedding dimension must divide
    evenly into ``m`` subspaces (pad upstream otherwise — silent
    uneven splits would break the replay contract)."""
    if m < 1 or n_codes < 1:
        raise ValueError("m and n_codes must be positive")

    def build():
        rows = (
            vectors.select(F.col(vec_col).cast("array<double>"), F.col(id_col))
            .orderBy(id_col)
            .limit(train_limit)
            .collect()
        )
        if not rows:
            raise ValueError("PQ training sample is empty")
        X = np.array([np.asarray(r[0], dtype=np.float64) for r in rows])
        d = X.shape[1]
        if d % m:
            raise ValueError(f"dim {d} does not split into {m} subspaces")
        dsub = d // m
        C = np.stack(
            [
                _kmeans_numpy(X[:, s * dsub : (s + 1) * dsub], n_codes)
                for s in range(m)
            ]
        )
        return PQCodebook(C)

    key = _memo_key(vectors, id_col, vec_col, m, n_codes, train_limit)
    return memo("pq_codebook", key, build)


def _encode_block(V: np.ndarray, cb: PQCodebook) -> np.ndarray:
    """(n, m) int32 codes: per subspace the argmin of the squared
    distance to the k sub-centroids (ties → lowest code)."""
    n = V.shape[0]
    codes = np.empty((n, cb.m), dtype=np.int32)
    for s in range(cb.m):
        Xs = V[:, s * cb.dsub : (s + 1) * cb.dsub]
        Cs = cb.C[s]
        d2 = -2.0 * (Xs @ Cs.T) + (Cs * Cs).sum(axis=1)
        codes[:, s] = d2.argmin(axis=1)
    return codes


def pq_encode(
    vectors: DataFrame,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, recon_err double): one Arrow projection,
    zero shuffle. ``recon_err`` is the squared reconstruction error —
    the per-vector quantization quality signal (mean of it = the PQ
    distortion a pipeline monitors when choosing m / k)."""
    from tableone_pyspark_spark.plans.layout import rebalance

    # CPU-bound argmin-per-subspace kernel: spread narrow inputs
    # across cores (no-op on wide inputs — scale path is unchanged)
    src = rebalance(
        vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    cb = codebook

    schema = T.StructType(
        [
            T.StructField("id", src.schema["id"].dataType),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
            T.StructField("recon_err", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame({"id": [], "codes": [], "recon_err": []})
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if V.shape[1] != cb.dim:
                raise ValueError(
                    f"vector dim {V.shape[1]} != codebook dim {cb.dim}"
                )
            codes = _encode_block(V, cb)
            recon = np.concatenate(
                [cb.C[s][codes[:, s]] for s in range(cb.m)], axis=1
            )
            err = ((V - recon) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "codes": list(codes),
                    "recon_err": err,
                }
            )

    return src.mapInPandas(kernel, schema)


def pq_topk(
    vectors: DataFrame,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """ADC top-k: queries are the raw vectors with the ``n_queries``
    lowest ids (the similarity-family convention); the corpus is
    scanned as CODES ONLY — distance = Σ_s LUT[s][code_s] where the
    per-query LUT holds the k partial squared distances per subspace.
    Returns (query_id, neighbor_id, adc_dist2, rank), rank 1..k by
    ascending ADC distance (ties → lowest neighbor id), self
    excluded. The query block is collect-bounded (n_queries × d
    floats) and rides into the kernel closure; the plan is one Arrow
    pass over the codes + one bounded per-query rank — no corpus-wide
    sort, no join of corpus against corpus."""
    cb = codebook
    q_rows = (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>"))
        .orderBy("id")
        .limit(n_queries)
        .collect()
    )
    q_ids = np.array([r["id"] for r in q_rows])
    Q = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    if Q.size and Q.shape[1] != cb.dim:
        raise ValueError(f"query dim {Q.shape[1]} != codebook dim {cb.dim}")
    # LUT[q, s, code] = ||Q[q,s] - C[s,code]||²
    lut = np.stack(
        [
            -2.0 * (Q[:, s * cb.dsub : (s + 1) * cb.dsub] @ cb.C[s].T)
            + (cb.C[s] * cb.C[s]).sum(axis=1)
            + (Q[:, s * cb.dsub : (s + 1) * cb.dsub] ** 2).sum(
                axis=1, keepdims=True
            )
            for s in range(cb.m)
        ],
        axis=1,
    )

    codes = pq_encode(vectors, cb, id_col, vec_col).select("id", "codes")

    schema = T.StructType(
        [
            T.StructField("query_id", codes.schema["id"].dataType),
            T.StructField("neighbor_id", codes.schema["id"].dataType),
            T.StructField("adc_dist2", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            Cd = np.vstack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            ids = pdf["id"].to_numpy()
            # (nq, n) ADC distances via one gather per subspace
            d = np.zeros((len(q_ids), len(ids)))
            for s in range(cb.m):
                d += lut[:, s, :][:, Cd[:, s]]
            qi, ni = np.nonzero(np.ones_like(d, dtype=bool))
            out = pd.DataFrame(
                {
                    "query_id": q_ids[qi],
                    "neighbor_id": ids[ni],
                    "adc_dist2": d[qi, ni],
                }
            )
            out = out[out["query_id"] != out["neighbor_id"]]
            # partition-local prune to k keeps the shuffle tiny
            out = (
                out.sort_values(["query_id", "adc_dist2", "neighbor_id"])
                .groupby("query_id", sort=False)
                .head(k)
            )
            yield out

    cand = codes.mapInPandas(kernel, schema)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc_dist2", 6).alias("adc_dist2"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _recall_vs_exact(
    vectors: DataFrame,
    approx: DataFrame,
    id_col: str,
    vec_col: str,
    n_queries: int,
    k: int,
) -> DataFrame:
    """(query_id, n_hits, recall): overlap of an approximate top-k
    frame with the EXACT squared-L2 top-k (same tie rule: distance
    asc, id asc, self excluded). Every query row appears — a query
    whose approximate candidates all missed scores recall 0. The
    exact side is a brute-force theta join at test scale (the point
    is grading the approximation, not scaling the oracle)."""
    v = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = (
        v.orderBy("id")
        .limit(n_queries)
        .select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("id"))
    exact = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("id") != F.col("query_id"))
        .select("query_id", "id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    hits = (
        approx.join(
            exact.select("query_id", F.col("id").alias("neighbor_id")),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = q.select("query_id")
    # both sides are <= n_queries rows; hint the broadcast so the
    # static plan avoids a sort-merge join even without AQE
    return qs.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(float(k)), 6).alias(
            "recall"
        ),
    )


def pq_recall(
    vectors: DataFrame,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """(query_id, n_hits, recall): the ADC top-k graded against exact
    squared-L2 — the quality gate run before trusting a PQ index,
    twin of ``ivf_recall``/``lsh_recall``."""
    approx = pq_topk(vectors, codebook, id_col, vec_col, n_queries, k)
    return _recall_vs_exact(vectors, approx, id_col, vec_col, n_queries, k)


def ivfpq_recall(
    vectors: DataFrame,
    index: "IVFPQIndex",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """(query_id, n_hits, recall): IVFPQ search graded against exact
    squared-L2 top-k. Recall here folds in BOTH error sources — cells
    the probe skipped AND residual-quantization distance error — the
    number a pipeline tunes n_probe/m/k against."""
    approx = ivfpq_topk(
        vectors, index, id_col, vec_col, n_probe, n_queries, k
    )
    return _recall_vs_exact(vectors, approx, id_col, vec_col, n_queries, k)


class IVFPQIndex:
    """Coarse quantizer (n_cells, d) + residual PQ codebook — the
    FAISS IVFPQ construction: cells prune WHICH vectors are scanned,
    residual codes compress WHAT is scanned."""

    __slots__ = ("coarse", "coarse_norm2", "pq")

    def __init__(self, coarse: np.ndarray, pq_cb: PQCodebook):
        self.coarse = coarse
        self.coarse_norm2 = (coarse * coarse).sum(axis=1)
        self.pq = pq_cb


def train_ivfpq(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 4,
    n_codes: int = 16,
    train_limit: int = 16384,
) -> IVFPQIndex:
    """Train the coarse quantizer (the SAME seeded KMeans-on-ordered-
    sample as the IVF family — identical centroids to
    ``ml_lsh._train_quantizer`` for equal params) and the product
    codebook on the RESIDUALS x − C[cell(x)] of the training sample —
    the true IVFPQ construction (residuals are far better centered
    than raw vectors, so the same m × k budget buys less distortion).
    """

    def build():
        rows = (
            vectors.select(F.col(vec_col).cast("array<double>"), F.col(id_col))
            .orderBy(id_col)
            .limit(train_limit)
            .collect()
        )
        if not rows:
            raise ValueError("IVFPQ training sample is empty")
        X = np.array([np.asarray(r[0], dtype=np.float64) for r in rows])
        d = X.shape[1]
        if d % m:
            raise ValueError(f"dim {d} does not split into {m} subspaces")
        C = _kmeans_numpy(X, n_centroids)
        d2 = -2.0 * (X @ C.T) + (C * C).sum(axis=1)
        res = X - C[d2.argmin(axis=1)]
        dsub = d // m
        pq_cb = PQCodebook(
            np.stack(
                [
                    _kmeans_numpy(res[:, s * dsub : (s + 1) * dsub], n_codes)
                    for s in range(m)
                ]
            )
        )
        return IVFPQIndex(C, pq_cb)

    key = _memo_key(
        vectors, id_col, vec_col, n_centroids, m, n_codes, train_limit, "ivfpq"
    )
    return memo("ivfpq_index", key, build)


def train_opq(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    n_iters: int = 8,
    train_limit: int = 16384,
) -> tuple[np.ndarray, PQCodebook]:
    """Optimized Product Quantization (Ge, He, Ke & Sun 2013, CVPR —
    the FAISS ``OPQMatrix`` pre-rotation): learn an ORTHOGONAL
    rotation R that aligns the data with the subspace split before
    product quantization, by the non-parametric alternation

        codebook <- per-subspace KMeans on the rotated sample X·R
        codes    <- PQ-encode X·R under that codebook
        R        <- orthogonal Procrustes argmin_R ||X·R − X̂||_F
                    (SVD of Xᵀ·X̂ = U·S·Vᵀ  →  R = U·Vᵀ)

    starting from R = I, so iteration 1's codebook step IS plain PQ —
    the training distortion can only improve or tie vs :func:`train_pq`
    with equal (m, n_codes) (pinned in tests). Pure deterministic
    numpy on the bounded ordered sample; returns (R, codebook), both
    KB-sized — they broadcast into the encode/search kernels exactly
    like the un-rotated family. Distances are preserved by
    orthogonality (‖Rx − Rq‖ = ‖x − q‖), so OPQ recall is measured
    against the SAME exact-L2 top-k as PQ's."""
    if m < 1 or n_codes < 1 or n_iters < 1:
        raise ValueError("m, n_codes and n_iters must be positive")

    def build():
        rows = (
            vectors.select(F.col(vec_col).cast("array<double>"), F.col(id_col))
            .orderBy(id_col)
            .limit(train_limit)
            .collect()
        )
        if not rows:
            raise ValueError("OPQ training sample is empty")
        X = np.array([np.asarray(r[0], dtype=np.float64) for r in rows])
        d = X.shape[1]
        if d % m:
            raise ValueError(f"dim {d} does not split into {m} subspaces")
        dsub = d // m

        def fit_codebook(Y):
            return PQCodebook(
                np.stack(
                    [
                        _kmeans_numpy(Y[:, s * dsub : (s + 1) * dsub], n_codes)
                        for s in range(m)
                    ]
                )
            )

        R = np.eye(d)
        for _ in range(n_iters):
            Y = X @ R
            cb = fit_codebook(Y)
            codes = _encode_block(Y, cb)
            Yhat = np.concatenate(
                [cb.C[s][codes[:, s]] for s in range(m)], axis=1
            )
            U, _sv, Vt = np.linalg.svd(X.T @ Yhat)
            R = U @ Vt
        # final codebook refit under the final rotation
        return R, fit_codebook(X @ R)

    key = _memo_key(
        vectors, id_col, vec_col, m, n_codes, n_iters, train_limit, "opq"
    )
    return memo("opq_model", key, build)


def _rotated(vectors: DataFrame, rotation: np.ndarray, id_col: str, vec_col: str) -> DataFrame:
    """(id, v) with v = R·x, rotated inside one Arrow kernel — the
    rotation matrix (d × d floats, KBs) rides in the closure; row-
    local, zero shuffle, so every downstream PQ shape is unchanged."""
    src = vectors.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    )
    R = rotation
    schema = T.StructType(
        [
            T.StructField(id_col, src.schema[id_col].dataType),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if V.shape[1] != R.shape[0]:
                raise ValueError(
                    f"vector dim {V.shape[1]} != rotation dim {R.shape[0]}"
                )
            Y = V @ R
            yield pd.DataFrame({id_col: pdf[id_col], vec_col: list(Y)})

    return src.mapInPandas(kernel, schema)


def opq_topk(
    vectors: DataFrame,
    rotation: np.ndarray,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """:func:`pq_topk` in the rotated space. Because R is orthogonal
    the TRUE distances are identical in either space — only the
    quantization grid changes — so results compare 1:1 with
    :func:`pq_topk` on the same corpus."""
    return pq_topk(
        _rotated(vectors, rotation, id_col, vec_col),
        codebook, id_col, vec_col, n_queries, k,
    )


def opq_recall(
    vectors: DataFrame,
    rotation: np.ndarray,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """(query_id, n_hits, recall) of OPQ ADC top-k vs the exact
    squared-L2 top-k — computed on the UNROTATED vectors (valid by
    orthogonality; identical tie rule), so the number is directly
    comparable with :func:`pq_recall`'s on the same corpus."""
    approx = opq_topk(
        vectors, rotation, codebook, id_col, vec_col, n_queries, k
    )
    return _recall_vs_exact(vectors, approx, id_col, vec_col, n_queries, k)


def ivfpq_topk(
    vectors: DataFrame,
    index: IVFPQIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """IVFPQ search: per query only the ``n_probe`` nearest cells are
    scanned, and scanned rows cost m LUT lookups (ADC over RESIDUAL
    codes, with a per-(query, probed-cell) LUT — the residual differs
    per cell, exactly as FAISS computes it). One Arrow pass assigns
    cell + residual codes and emits pruned candidates; a bounded rank
    finishes. Returns (query_id, neighbor_id, adc_dist2, rank)."""
    ix = index
    cb = ix.pq
    q_rows = (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>"))
        .orderBy("id")
        .limit(n_queries)
        .collect()
    )
    q_ids = np.array([r["id"] for r in q_rows])
    Q = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    if Q.size and Q.shape[1] != cb.dim:
        raise ValueError(f"query dim {Q.shape[1]} != index dim {cb.dim}")
    qd2 = -2.0 * (Q @ ix.coarse.T) + ix.coarse_norm2
    # (nq, n_probe) probed cells, nearest first (ties -> lowest cell)
    probed = np.argsort(qd2, axis=1, kind="stable")[:, :n_probe]
    # LUT[q, p, s, code] over the residual q - C[cell]
    nq = len(q_ids)
    lut = np.zeros((nq, n_probe, cb.m, cb.k))
    for qi in range(nq):
        for pi in range(n_probe):
            r = Q[qi] - ix.coarse[probed[qi, pi]]
            for s in range(cb.m):
                rs = r[s * cb.dsub : (s + 1) * cb.dsub]
                lut[qi, pi, s] = (
                    -2.0 * (cb.C[s] @ rs)
                    + (cb.C[s] * cb.C[s]).sum(axis=1)
                    + (rs * rs).sum()
                )

    from tableone_pyspark_spark.plans.layout import rebalance

    src = rebalance(
        vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    schema = T.StructType(
        [
            T.StructField("query_id", src.schema["id"].dataType),
            T.StructField("neighbor_id", src.schema["id"].dataType),
            T.StructField("adc_dist2", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if V.shape[1] != cb.dim:
                raise ValueError(
                    f"vector dim {V.shape[1]} != index dim {cb.dim}"
                )
            ids = pdf["id"].to_numpy()
            d2 = -2.0 * (V @ ix.coarse.T) + ix.coarse_norm2
            cells = d2.argmin(axis=1)
            codes = _encode_block(V - ix.coarse[cells], cb)
            frames = []
            for qi in range(nq):
                for pi in range(n_probe):
                    mask = cells == probed[qi, pi]
                    if not mask.any():
                        continue
                    sub = codes[mask]
                    dist = np.zeros(sub.shape[0])
                    for s in range(cb.m):
                        dist += lut[qi, pi, s][sub[:, s]]
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": q_ids[qi],
                                "neighbor_id": ids[mask],
                                "adc_dist2": dist,
                            }
                        )
                    )
            if not frames:
                continue
            out = pd.concat(frames, ignore_index=True)
            out = out[out["query_id"] != out["neighbor_id"]]
            out = (
                out.sort_values(["query_id", "adc_dist2", "neighbor_id"])
                .groupby("query_id", sort=False)
                .head(k)
            )
            yield out

    cand = src.mapInPandas(kernel, schema)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc_dist2", 6).alias("adc_dist2"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
