"""Hashed bag-of-n-grams linear quality classifier — the TRAINED
document scorer of the CCNet / fastText / FineWeb-edu curation recipe
(Joulin et al. 2017 "Bag of Tricks for Efficient Text Classification";
Wenzek et al. 2020 CCNet; Penedo et al. 2024 FineWeb), complementing
the heuristic ``functions/text.py quality_score`` rules: a tiny linear
model over hashed unigram+bigram features separates "looks like the
reference corpus" from "looks like crawl junk" at a fraction of the
LM-perplexity cost.

    features : unigrams + adjacent word bigrams of the normalized
               text, each hashed into one of B buckets by the
               cross-engine polynomial hash (SQL-replayable — the
               DSIR/Bloom/CMS family)
    training : per-bucket Naive-Bayes log-odds
               w[b] = ln((pos_b+α)/(pos+αB)) − ln((neg_b+α)/(neg+αB))
               from ONE partial-aggregated pass — no SGD, no epochs:
               the NB-feature linear model of Wang & Manning 2012
               (NBSVM's baseline), which a dim-1 fastText reduces to
    scoring  : score(doc) = σ(prior + mean_{f∈doc} w[bucket(f)]) —
               pure map-side arithmetic against the broadcast weights

Spark shapes, 100 TB story: training is one explode + one groupBy
collapsed to ≤ B rows (the model is broadcast-sized BY CONSTRUCTION,
like the DSIR bucket models and PQ codebooks); the only driver collect
is those ≤ B aggregate rows. Scoring never shuffles: the weight table
ships with the task closure (B·8 bytes) and every document folds its
own features — the catalyst reference plan is a single projection
(pinned Exchange-free), the default Arrow kernel a mapInPandas over
the same arithmetic (parity pinned; ``rebalance()`` spreads narrow
local inputs and no-ops on wide ones, the DSIR precedent).

No counterpart in the reference repo (533-line tableone engine, no
text analytics); extends the LLM-curation family alongside
quality_score / lm_perplexity / ccnet_buckets / dsir_weights.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tableone_pyspark_spark.functions.text import (
    normalize_text,
    poly_hash,
    py_norm_words,
)


def _py_grams(t: str | None) -> list[str]:
    """Python twin of :func:`_feature_array`: unigrams + adjacent
    bigrams over the shared exact tokenization."""
    ws = py_norm_words(t)
    return ws + [a + " " + b for a, b in zip(ws, ws[1:])]


def _feature_array(c: Column) -> Column:
    """Array of unigram + adjacent-bigram strings ("w1 w2") of the
    normalized text — the per-row (non-exploded) twin of
    ``lm._bigram_occurrences``'s shifted-slice idiom, with unigrams
    prepended. Empty/whitespace text → empty array; NULL → NULL."""
    ws = F.filter(F.split(normalize_text(c), " "), lambda w: w != "")
    n1 = F.greatest(F.size(ws) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(ws, 1, n1),
        F.slice(ws, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(ws, bi)


def _occurrences(
    df: DataFrame,
    text_col: str,
    carry: list[str],
    n_buckets: int,
    hash_impl: str,
) -> DataFrame:
    """(*carry, bucket) — one row per unigram/bigram OCCURRENCE,
    bucketed by the polynomial hash. 'arrow' (default) tokenizes and
    hashes inside one vectorized kernel (normalization replicated
    exactly: lower, collapse [ \\t\\n]+, strip(' ') — the DSIR/Gopher
    python twin); 'catalyst' is the oracle-reference Column pipeline.
    Both produce identical rows (parity pinned)."""
    if hash_impl == "catalyst":
        feats = _feature_array(F.col(text_col))
        return df.select(
            *carry, F.explode(feats).alias("g")
        ).select(*carry, (poly_hash(F.col("g")) % n_buckets).alias("bucket"))
    if hash_impl != "arrow":
        raise ValueError(
            f"hash_impl must be 'arrow' or 'catalyst', got {hash_impl!r}"
        )

    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from tableone_pyspark_spark.operators.bloom import _horner_batch
    from tableone_pyspark_spark.plans.layout import rebalance

    src = rebalance(df.select(*carry, F.col(text_col).alias("t")))
    schema = T.StructType(
        [src.schema[c] for c in carry] + [T.StructField("bucket", T.LongType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grams: list[str] = []
            counts = np.zeros(len(pdf), dtype=np.int64)
            for j, t in enumerate(pdf["t"]):
                gs = _py_grams(t)
                counts[j] = len(gs)
                grams.extend(gs)
            if not grams:
                continue
            h = _horner_batch(grams, 31)
            # np.repeat replicates each doc's carry values once per
            # gram in emission order — no per-occurrence tuple churn
            out = pd.DataFrame(
                {c: np.repeat(pdf[c].to_numpy(), counts) for c in carry}
            )
            out["bucket"] = (h % n_buckets).astype(np.int64)
            yield out

    return src.mapInPandas(kernel, schema)


def train_quality_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    n_buckets: int = 2048,
    alpha: float = 1.0,
    hash_impl: str = "arrow",
) -> tuple[list[float], float]:
    """Fit the NB-log-odds linear model: returns ``(weights, prior)``
    with ``len(weights) == n_buckets`` and ``prior = ln(n_pos/n_neg)``
    over documents. Labels must be 0/1 with no NULLs (1 = the quality
    class); both classes must be present. TWO bounded passes — a
    scalar validation aggregate, then the feature shuffle collapsed
    to ≤ n_buckets rows before the driver sees anything."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    if label_col in ("t", "bucket"):
        # the carried label rides through the feature kernel next to
        # the internal text/bucket aliases (an internal-alias
        # collision; self-review r10)
        raise ValueError(
            f"label column name {label_col!r} collides with the "
            "feature kernel's internal schema"
        )
    lab = F.col(label_col)
    head = df.agg(
        F.min(lab).alias("lo"),
        F.max(lab).alias("hi"),
        F.sum(F.when(lab == 1, 1).otherwise(0)).alias("np"),
        F.sum(F.when(lab == 0, 1).otherwise(0)).alias("nn"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if head["n"] == 0:
        raise ValueError("training corpus is empty")
    if head["lo"] not in (0, 1) or head["hi"] not in (0, 1):
        raise ValueError(
            f"labels must be 0/1, got range [{head['lo']}, {head['hi']}]"
        )
    if head["np"] + head["nn"] != head["n"]:
        # min/max ignore NULLs, and the bucket aggregation's
        # otherwise(0) would silently train NULL-labeled docs as
        # negative evidence (self-review r10)
        raise ValueError(
            f"labels must not be NULL ({head['n'] - head['np'] - head['nn']}"
            " NULL-labeled rows)"
        )
    if not head["np"] or not head["nn"]:
        raise ValueError("training needs BOTH label classes present")
    occ = _occurrences(df, text_col, [label_col], n_buckets, hash_impl)
    # partial-aggregated: the exchange carries ≤ n_buckets rows. The
    # nl term re-checks NULL labels AT THE POINT OF USE: the head
    # validation ran on a separate pass, and a non-deterministic input
    # could present different rows here (self-review r10) — training
    # assumes a deterministic source like every multi-action Spark job
    rows = (
        occ.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("p"),
            F.count(F.lit(1)).alias("t"),
            F.sum(
                F.when(F.col(label_col).isNull(), 1).otherwise(0)
            ).alias("nl"),
        )
        .collect()
    )
    if any(r["nl"] for r in rows):
        raise ValueError(
            "NULL labels appeared in the training pass after passing "
            "validation — the input DataFrame is non-deterministic"
        )
    pos = [0] * n_buckets
    neg = [0] * n_buckets
    for r in rows:
        pos[r["bucket"]] = r["p"]
        neg[r["bucket"]] = r["t"] - r["p"]
    pt, nt = sum(pos), sum(neg)
    av = alpha * n_buckets
    weights = [
        math.log((pos[b] + alpha) / (pt + av))
        - math.log((neg[b] + alpha) / (nt + av))
        for b in range(n_buckets)
    ]
    return weights, math.log(head["np"] / head["nn"])


def score_quality(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: list[float],
    prior: float,
    hash_impl: str = "arrow",
) -> DataFrame:
    """(id, n_features, quality_score) — σ(prior + mean bucket weight)
    per document (the DSIR output contract). A doc with no features
    (empty/NULL text) scores σ(prior): no evidence moves the prior.
    Map-side only: the catalyst reference plan is one projection
    (Exchange-free, pinned), the arrow default one mapInPandas."""
    n_buckets = len(weights)
    if n_buckets == 0:
        raise ValueError("weights must be non-empty")
    if hash_impl == "catalyst":
        wlit = F.array(*[F.lit(float(w)) for w in weights])
        feats = _feature_array(F.col(text_col))
        buckets = F.transform(
            feats, lambda g: (poly_hash(g) % n_buckets).cast("int")
        )
        s = F.aggregate(
            buckets,
            F.lit(0.0),
            lambda acc, b: acc + F.element_at(wlit, b + 1),
        )
        n = F.coalesce(F.size(feats), F.lit(0))
        logit = F.lit(float(prior)) + F.when(
            n > 0, s / n
        ).otherwise(F.lit(0.0))
        return df.select(
            F.col(id_col).alias("id"),
            n.alias("n_features"),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias(
                "quality_score"
            ),
        )
    if hash_impl != "arrow":
        raise ValueError(
            f"hash_impl must be 'arrow' or 'catalyst', got {hash_impl!r}"
        )

    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from tableone_pyspark_spark.operators.bloom import _horner_batch
    from tableone_pyspark_spark.plans.layout import rebalance

    src = rebalance(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    )
    schema = T.StructType(
        [
            src.schema["id"],
            T.StructField("n_features", T.IntegerType(), False),
            T.StructField("quality_score", T.DoubleType(), False),
        ]
    )
    w_arr = np.asarray(weights, dtype=np.float64)
    p = float(prior)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, scores = [], [], []
            for i, t in zip(pdf["id"], pdf["t"]):
                grams = _py_grams(t)
                if grams:
                    h = _horner_batch(grams, 31) % n_buckets
                    # cumsum = the same sequential left fold as the
                    # catalyst aggregate (parity pinned)
                    mean = float(np.cumsum(w_arr[h])[-1]) / len(grams)
                else:
                    mean = 0.0
                z = p + mean
                ids.append(i)
                ns.append(len(grams))
                # math.exp raises past ~709 where the JVM saturates to
                # inf → score 0; below -700 both sides are < 1e-304
                scores.append(
                    0.0 if z <= -700.0 else 1.0 / (1.0 + math.exp(-z))
                )
            if not ids:
                continue
            yield pd.DataFrame(
                {"id": ids, "n_features": ns, "quality_score": scores}
            )

    return src.mapInPandas(kernel, schema)
