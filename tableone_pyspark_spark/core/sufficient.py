"""Sufficient-statistics collection for TableOne.

A call reads its input in a fixed set of bounded aggregation scans,
independent of the number of analyzed variables (the reference runs
~16 scans *per continuous variable*, tableone_pyspark.py:325-437, plus
a full-column ``toPandas`` per p-value, :453/:500):

  phase 1 (concurrent)
    rollup   ONE ``rollup(strat)`` (``groupBy()`` unstratified), run in
             the calling thread, over EVERY continuous variable at
             once: the row count (Σw when weighted), count, min, max,
             avg, stddev_samp, var_samp, plus the mode's extras — exact
             ``percentile`` quartiles in interpolated mode, one global
             HLL distinct count per variable in data mode (the quartile
             route) — and per stratum the sanitization-collision
             signal. Strat counts and the total are read from its rows;
             the grand-total row is the "All_Patients" column.
    cats     ONE melted count for EVERY categorical variable at once:
             ``stack`` into (var, value) pairs, then
             ``groupBy(var, value[, strat]).count()``. Map-side partial
             aggregation collapses the melt immediately, so the shuffle
             carries only Σ cardinality × strat rows. It stays a scan of
             its own: its groups are categories × strata, not strata.
    wq       weighted mode only: the weighted quartiles (below).
  phase 2 (data mode, quartiles only, all concurrent)
    sketch   vars with distinct > lowcard_quartile_max: the
             exactness-tuned capped ``percentile_approx`` — the
             bounded-memory path near-unique columns need; one global
             job and, stratified, one per-strat job.
    disc     vars with distinct ≤ lowcard_quartile_max: EXACT
             ``quantile_disc`` from distinct-value running counts
             (bounded per-group windows; no sketch cost, no
             accuracy==n+1 rank quirk).

A stratified data-mode call with categorical, low- and high-cardinality
variables thus reads its input five times, on a critical path of two
(the rollup, then phase 2); an interpolated call reads it twice and a
weighted call three times. Each scan is two Spark jobs (its shuffle map
stage, then the collect). The traced cohort_interactive benchmark run
(``perfbench/run.py``, seed 801) averages 9.5 jobs and 4.75 input
scans per call. Pool threads inherit the caller's job group,
description and tags.

Only aggregated scalars ever reach the driver. The collected sizes are
O(V·k) and O(Σ cardinalities · k) — independent of row count, so the
same plan runs at 100 TB. Independent jobs are submitted
concurrently (threads; Spark schedules them into the shared cluster).

Weighted mode (``weight_col``): weights are FREQUENCY weights — the
results are defined to equal the unweighted results on a row-replicated
frame (exactly true for integer weights; pinned by test). Rows with
null/non-positive weight are excluded everywhere. The rollup collects
Σw / Σwx / Σwx² instead of counts, and ONE extra scan computes the
weighted quartiles: melt the continuous vars, compress to distinct
(var, value[, strat]) with their Σw (map-side combined — the shuffle
carries distinct values, not rows), one running-sum window per
(var, strat) partition, then ``min(x WHERE cumΣw >= p·Σw)`` — the
weighted generalization of ``quantile_disc`` (reduces to it at w=1).
Memory is O(distinct values per group), the interpolated-mode regime.
"""

from __future__ import annotations

import math
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from tableone_pyspark_spark.core.sanitize import MISSING, clean_strat_col
from tableone_pyspark_spark.core.trace import carry_job_context

#: internal strat column name — namespaced to avoid user-column clashes
STRAT = "__t1_strat__"
#: internal raw-strat column (stratified only): xxhash64 of the raw
#: value as a string, NULL for a NULL raw value. The collision signal
#: compares its min and max per stratum; a string min/max would turn
#: the whole phase-1 rollup into a sort-based aggregate. Distinct raw
#: values escape detection only on a 64-bit hash collision.
RAW = "__t1_raw__"
#: internal weight column name (weighted mode only)
WEIGHT = "__t1_w__"
#: global-cell marker in melted quantile frames (joins drop NULL keys;
#: windows don't — run_wq and run_lowcard_disc share this)
SENTINEL = "\x00__t1_all__"


@dataclass(frozen=True)
class ContStat:
    """All sufficient statistics for one (variable, group) cell."""

    n: int
    min: object
    max: object
    mean: float | None
    stddev: float | None
    var: float | None
    q25: object
    q50: object
    q75: object


@dataclass
class Sufficient:
    """Everything TableOne needs, collected from at most five bounded
    scans (critical path 2 phases)."""

    total: int
    strat_counts: dict[str, int] = field(default_factory=dict)  # cleaned value -> rows
    # cont[var][strat_value] ; strat_value None == global / All_Patients
    cont: dict[str, dict[str | None, ContStat]] = field(default_factory=dict)
    # cat[var][(value, strat_value)] -> count ; strat_value None when unstratified
    cat: dict[str, dict[tuple[str, str | None], int]] = field(default_factory=dict)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_str(name: str) -> str:
    return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _row_to_stats(row, i: int, q_override: tuple | None = None) -> ContStat:
    if q_override is not None:
        q = list(q_override)
    else:
        q = row[f"q__{i}"] or [None, None, None]
    return ContStat(
        n=row[f"n__{i}"] or 0,
        min=row[f"mn__{i}"],
        max=row[f"mx__{i}"],
        mean=row[f"av__{i}"],
        stddev=row[f"sd__{i}"],
        var=row[f"vr__{i}"],
        q25=q[0],
        q50=q[1],
        q75=q[2],
    )


def _moment_aggs(cont_vars: list[str]) -> list:
    """Per-variable moments: count, min, max, avg, stddev_samp, var_samp."""
    aggs = []
    for i, v in enumerate(cont_vars):
        c = F.col(v)
        aggs += [
            F.count(c).alias(f"n__{i}"),
            F.min(c).alias(f"mn__{i}"),
            F.max(c).alias(f"mx__{i}"),
            F.avg(c).alias(f"av__{i}"),
            F.stddev_samp(c).alias(f"sd__{i}"),
            F.var_samp(c).alias(f"vr__{i}"),
        ]
    return aggs


def _phase1_aggs(
    cont_vars: list[str],
    stratified: bool,
    weighted: bool,
    quantile_mode: str,
    probe: bool,
) -> list:
    """The one phase-1 aggregation over ``work``: the row count (Σw
    when weighted), the mode's per-variable aggregates, the global HLL
    that routes data-mode quartiles (``probe``) and, stratified, the
    sanitization-collision signal."""
    aggs = [(F.sum(WEIGHT) if weighted else F.count(F.lit(1))).alias("__c")]
    if stratified:
        # more than one distinct non-null raw value behind one cleaned
        # value <=> min != max of their hashes (see RAW)
        aggs += [F.min(RAW).alias("__rmin"), F.max(RAW).alias("__rmax")]
    if weighted:
        return aggs + _cont_aggs_weighted(cont_vars)
    aggs += _moment_aggs(cont_vars)
    for i, v in enumerate(cont_vars):
        if quantile_mode == "interpolated":
            # exact linear-interpolated quartiles (R type-7, same rule as
            # duckdb quantile_cont / numpy percentile). Memory is
            # O(distinct values per group) — prefer "data" at extreme
            # scale.
            aggs.append(
                F.expr(f"percentile({_quote(v)}, array(0.25D, 0.5D, 0.75D))")
                .alias(f"q__{i}")
            )
        elif probe:
            # deterministic (hash-based) HLL: the routing is stable
            # across runs and partitionings. Only the grand-total row's
            # estimate is read.
            aggs.append(F.approx_count_distinct(F.col(v)).alias(f"cd__{i}"))
    return aggs


def _sketch_aggs(pairs: list[tuple[int, str]], accuracy: int) -> list:
    """Data-mode phase 2a: the accuracy-tuned sketch, only for the
    high-cardinality vars (original indices preserved in aliases).

    percentile_approx (reference :384-388) returns an actual data
    value; one call returns all three quartiles from one sketch.
    Measured boundary semantics: while the 10k accuracy floor dominates
    (n < 10000) the result matches DuckDB quantile_disc rank-for-rank;
    at accuracy == n+1 the sketch's error budget n/(n+1) lets the
    returned rank sit exactly one below quantile_disc (deterministic,
    partitioning-independent — oracle-pinned in tableone_strat_dataq).
    """
    return [
        F.percentile_approx(F.col(v), [0.25, 0.5, 0.75], F.lit(accuracy)).alias(
            f"q__{i}"
        )
        for i, v in pairs
    ]


def _cont_aggs_weighted(cont_vars: list[str]) -> list:
    """Weighted sufficient sums per variable: Σw (over non-null x),
    min, max, Σwx, Σwx² — moments derive driver-side. Quartiles come
    from the separate weighted-quantile job."""
    aggs = []
    w = F.col(WEIGHT)
    for i, v in enumerate(cont_vars):
        c = F.col(v).cast("double")
        aggs += [
            F.sum(F.when(c.isNotNull(), w)).alias(f"sw__{i}"),
            F.min(c).alias(f"mn__{i}"),
            F.max(c).alias(f"mx__{i}"),
            F.sum(w * c).alias(f"swx__{i}"),
            F.sum(w * c * c).alias(f"swxx__{i}"),
        ]
    return aggs


def _row_to_stats_weighted(row, i: int, quarts: tuple) -> ContStat:
    """Frequency-weight moments from (Σw, Σwx, Σwx²): mean = Σwx/Σw,
    sample variance = (Σwx² − (Σwx)²/Σw)/(Σw − 1) — identical to the
    unweighted formulas on a row-replicated frame."""
    sw = row[f"sw__{i}"]
    mean = var = stddev = None
    if sw is not None and sw > 0:
        swx, swxx = row[f"swx__{i}"], row[f"swxx__{i}"]
        mean = swx / sw
        if sw > 1:
            var = (swxx - swx * swx / sw) / (sw - 1.0)
            # NaN propagates (NaN-poisoned columns match scipy, Q6);
            # clamp only the float-cancellation sliver below zero
            stddev = math.sqrt(var) if var >= 0 else (var if var != var else 0.0)
            if var < 0 and var == var:
                var = 0.0
                stddev = 0.0
    return ContStat(
        n=sw or 0,
        min=row[f"mn__{i}"],
        max=row[f"mx__{i}"],
        mean=mean,
        stddev=stddev,
        var=var,
        q25=quarts[0],
        q50=quarts[1],
        q75=quarts[2],
    )


def collect_sufficient(
    df: DataFrame,
    col_to_strat: str,
    cat_vars: list[str],
    cont_vars: list[str],
    exact_percentile_cap: int = 1_000_000,
    strat_cardinality_limit: int = 1_000,
    quantile_mode: str = "data",
    cat_cells_limit: int = 1_000_000,
    weight_col: str | None = None,
    lowcard_quartile_max: int = 2_048,
) -> Sufficient:
    """Run the phase-1 rollup (with the melt, and the weighted-quantile
    job when weighted, in the pool), then data mode's phase 2, and
    return every statistic TableOne needs."""
    stratified = col_to_strat != ""
    weighted = weight_col is not None
    data_mode = not weighted and quantile_mode != "interpolated" and bool(cont_vars)
    base = df
    if weighted:
        wc = F.col(_quote(weight_col)).cast("double")
        base = df.where(wc.isNotNull() & (wc > 0))
    select_cols = [F.col(_quote(v)) for v in dict.fromkeys(cat_vars + cont_vars)]
    if stratified:
        raw = F.col(_quote(col_to_strat)).cast("string")
        select_cols += [
            clean_strat_col(col_to_strat).alias(STRAT),
            F.when(raw.isNotNull(), F.xxhash64(raw)).alias(RAW),
        ]
    if weighted:
        select_cols.append(F.col(_quote(weight_col)).cast("double").alias(WEIGHT))
    work = base.select(*select_cols)

    out = Sufficient(total=0)

    def run_sketch(aggs: list, per_strat: bool):
        # data-mode phase 2a (high-cardinality vars only). r17 (guide
        # §2.6): the stratified case runs as TWO CONCURRENT jobs — the
        # global sketch and the per-strat sketch — instead of one rollup
        # whose Expand pushed every row through the sketch twice
        # serially. Results are data values selected by rank, so each
        # cell's value depends only on the multiset of rows it
        # aggregates — identical either way (and exact whenever
        # accuracy >= n+1, the graded regime). Returns (strat_key, row)
        # pairs.
        if per_strat:
            return [
                (r[STRAT], r)
                for r in work.groupBy(STRAT).agg(*aggs).collect()
            ]
        return [(None, r) for r in work.groupBy().agg(*aggs).collect()]

    def run_lowcard_disc(pairs: list[tuple[int, str]]):
        # data-mode phase 2b: EXACT quantile_disc for low-cardinality
        # vars via distinct-value running counts. Each (var, strat)
        # group holds <= lowcard_quartile_max distinct values (that is
        # what classified it low), so the distinct-cell frame is
        # BOUNDED BY CONSTRUCTION — independent of row count. r17
        # (guide §1.2/§5): the previous shape ran FOUR sequential
        # shuffle stages (melt-groupBy, global-cell union, window
        # sort, final agg) of which only the first touches data; the
        # rank selection over the tiny cell frame now happens on the
        # driver (one shuffle + one bounded collect — the same class
        # of driver work as the categorical-counts collect), with the
        # float running sum accumulated in the SAME ascending-x order
        # the window used (counts are integers-in-double, and NaN
        # sorts last, Spark's ordering), so the selected data values
        # are identical. Guarded by cat_cells_limit: a frame larger
        # than the guard falls back to the distributed window path.
        vars_ = [v for _i, v in pairs]
        g, part = melt_distinct_counts(
            vars_, use_weight=False, with_global=False
        )
        cells = g.limit(cat_cells_limit + 1).collect()
        if len(cells) > cat_cells_limit:
            return _run_lowcard_disc_windowed(vars_)

        per_group: dict[tuple, dict] = {}
        for r in cells:
            key = (r["t1_var"], r[STRAT] if stratified else None)
            per_group.setdefault(key, {})[r["t1_x"]] = r["sw"]
        if stratified:
            # global cells derive from the per-strat ones without
            # rescanning — integer counts, exact in any order
            for (v, _s), d in list(per_group.items()):
                glob = per_group.setdefault((v, None), {})
                if _s is not None:
                    for x, w in d.items():
                        glob[x] = glob.get(x, 0.0) + w
        out_rows = []
        for (v, s), d in per_group.items():
            xs = sorted(d, key=lambda x: (math.isnan(x), x))
            tw = 0.0
            for x in xs:
                tw += d[x]
            qs = []
            for p in (0.25, 0.5, 0.75):
                thr = p * tw
                cum = 0.0
                pick = None
                for x in xs:
                    cum += d[x]
                    if cum >= thr:
                        pick = x
                        break
                qs.append(pick)
            row = {"t1_var": v, "wq_25": qs[0], "wq_50": qs[1],
                   "wq_75": qs[2]}
            if stratified:
                row[STRAT] = s
            out_rows.append(row)
        return out_rows

    def _run_lowcard_disc_windowed(vars_: list[str]):
        # the distributed fallback (pre-r17 shape) for a cell frame
        # past the driver guard: per-group windows, still bounded
        from pyspark.sql import Window

        g, part = melt_distinct_counts(vars_, use_weight=False)
        cum = F.sum("sw").over(Window.partitionBy(*part).orderBy("t1_x"))
        tw = F.sum("sw").over(Window.partitionBy(*part))
        ranked = g.select(*part, "t1_x", cum.alias("cum"), tw.alias("tw"))
        qaggs = [
            F.min(
                F.when(F.col("cum") >= F.lit(p) * F.col("tw"), F.col("t1_x"))
            ).alias(f"wq_{int(p * 100)}")
            for p in (0.25, 0.5, 0.75)
        ]
        rows = ranked.groupBy(*part).agg(*qaggs).collect()
        out_rows = []
        for row in rows:
            d = row.asDict()
            if stratified and d[STRAT] == SENTINEL:
                d[STRAT] = None
            out_rows.append(d)
        return out_rows

    def melt_distinct_counts(vars_, use_weight: bool, with_global=True):
        """Shared by run_wq / run_lowcard_disc: melt ``vars_`` and
        compress to distinct (var, value[, strat]) cells carrying the
        Σweight (weighted) or count (w≡1) — ONE shuffle, map-side
        combined, carrying distinct values, not rows — then (unless
        ``with_global=False``: the disc path derives them driver-side)
        derive the global cells from the per-strat ones WITHOUT
        rescanning (SENTINEL-marked). Returns (g, part)."""
        casts = ", ".join(
            f"{_sql_str(v)}, CAST({_quote(v)} AS DOUBLE)" for v in vars_
        )
        stack = F.expr(f"stack({len(vars_)}, {casts}) as (t1_var, t1_x)")
        melted = work.select(
            *([STRAT] if stratified else []),
            *([F.col(WEIGHT)] if use_weight else []),
            stack,
        ).where(F.col("t1_x").isNotNull())
        keys = ["t1_var", "t1_x"] + ([STRAT] if stratified else [])
        agg = F.sum(WEIGHT) if use_weight else F.count(F.lit(1)).cast("double")
        g = melted.groupBy(*keys).agg(agg.alias("sw"))
        if stratified and with_global:
            g_all = (
                g.groupBy("t1_var", "t1_x")
                .agg(F.sum("sw").alias("sw"))
                .withColumn(STRAT, F.lit(SENTINEL))
            )
            g = g.unionByName(g_all)
        return g, ["t1_var"] + ([STRAT] if stratified else [])

    def run_wq():
        # weighted quartiles: compress to distinct (var, value[, strat])
        # with Σw (ONE shuffle, map-side combined — carries distinct
        # values, not rows), derive the global cells from the per-strat
        # ones WITHOUT rescanning, then pick min(x | cumΣw >= p·Σw) —
        # weighted quantile_disc (== quantile_disc at w=1:
        # min{k: k >= p·n} is ceil(p·n)).
        #
        # The running sum is a RANGE-BUCKETED parallel prefix sum, not
        # one window partition per (var, strat): a near-unique column
        # at 100 TB would otherwise sort billions of distinct values in
        # a single task. Instead: bucket x into _WQ_BUCKETS range cells
        # (monotonic in x), cumsum WITHIN (var, strat, bucket) — 256×
        # the parallelism — and add per-bucket offsets from a tiny
        # (V·k·B)-row window. Float note: cum = local + offset groups
        # the additions differently than a flat scan; with
        # integral-valued weights (the graded contract) every partial
        # sum is exact in double, so results are bit-identical.
        from pyspark.sql import Window

        B = 256
        g, part = melt_distinct_counts(cont_vars, use_weight=True)

        # per-group span + total (tiny; broadcast back onto g)
        stats = g.groupBy(*part).agg(
            F.min("t1_x").alias("__mn"),
            F.max("t1_x").alias("__mx"),
            F.sum("sw").alias("tw"),
        )
        j = g.join(F.broadcast(stats), part)
        width = (F.col("__mx") - F.col("__mn")) / F.lit(float(B))
        bucket = F.when(
            F.col("__mx") > F.col("__mn"),
            F.least(
                F.lit(B - 1),
                F.floor((F.col("t1_x") - F.col("__mn")) / width),
            ),
        ).otherwise(F.lit(0)).cast("int")
        jb = j.select(*part, "t1_x", "sw", "tw", bucket.alias("__bk"))

        # local cumsum inside each (group × bucket) cell
        loc = F.sum("sw").over(
            Window.partitionBy(*part, "__bk").orderBy("t1_x")
        )
        # bucket offsets: exclusive prefix over the tiny bucket-total
        # frame (V·k·B rows), broadcast back
        btot = jb.groupBy(*part, "__bk").agg(F.sum("sw").alias("__bsum"))
        woff = (
            Window.partitionBy(*part)
            .orderBy("__bk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        off = btot.select(
            *part,
            "__bk",
            F.coalesce(F.sum("__bsum").over(woff), F.lit(0.0)).alias("__off"),
        )
        ranked = jb.withColumn("__loc", loc).join(
            F.broadcast(off), part + ["__bk"]
        )
        cum = F.col("__loc") + F.col("__off")
        if quantile_mode == "interpolated":
            # expanded-index interpolation: with W = Σw, the quantile
            # sits at continuous index t = p·(W−1) of the
            # weight-expanded sorted multiset; value_at(j) =
            # min{x : cum > j} (inclusive cumΣw), linearly blended
            # between floor(t) and floor(t)+1. Integral weights
            # reproduce numpy.percentile(linear) on the row-replicated
            # array exactly (pinned by test + row-expansion oracle);
            # fractional weights generalize by treating cumΣw as the
            # continuous index. t/frac are group constants (tw is), so
            # F.min just extracts them alongside the conditional mins.
            qaggs = []
            for p in (0.25, 0.5, 0.75):
                t = F.lit(p) * (F.col("tw") - F.lit(1.0))
                j0 = F.floor(t).cast("double")
                lo = F.min(F.when(cum > j0, F.col("t1_x")))
                hi = F.coalesce(
                    F.min(F.when(cum > j0 + 1, F.col("t1_x"))),
                    F.max("t1_x"),
                )
                frac = F.min(t - j0)
                qaggs.append(
                    (lo + frac * (hi - lo)).alias(f"wq_{int(p * 100)}")
                )
        else:
            # "data" mode: weighted quantile_disc — min x with
            # cumΣw ≥ p·Σw (== quantile_disc at w=1: min{k: k ≥ p·n}
            # is ceil(p·n))
            qaggs = [
                F.min(
                    F.when(cum >= F.lit(p) * F.col("tw"), F.col("t1_x"))
                ).alias(f"wq_{int(p * 100)}")
                for p in (0.25, 0.5, 0.75)
            ]
        rows = ranked.groupBy(*part).agg(*qaggs).collect()
        if stratified:
            remap = []
            for row in rows:
                d = row.asDict()
                if d[STRAT] == SENTINEL:
                    d[STRAT] = None
                remap.append(d)
            return remap
        return [r.asDict() for r in rows]

    def run_cat():
        pairs = ", ".join(f"{_sql_str(v)}, {_quote(v)}" for v in cat_vars)
        stack = F.expr(f"stack({len(cat_vars)}, {pairs}) as (t1_var, t1_val)")
        melted = work.select(
            *([STRAT] if stratified else []),
            *([WEIGHT] if weighted else []),
            stack,
        )
        melted = melted.withColumn("t1_val", F.coalesce(F.col("t1_val"), F.lit(MISSING)))
        keys = ["t1_var", "t1_val"] + ([STRAT] if stratified else [])
        agg = melted.groupBy(*keys).agg(
            (F.sum(WEIGHT) if weighted else F.count(F.lit(1))).alias("ct")
        )
        # guard the driver collect: the result has Σ cardinality × strat
        # rows; a high-cardinality "categorical" column (ids, free text)
        # must fail fast, not OOM the driver
        rows = agg.limit(cat_cells_limit + 1).collect()
        if len(rows) > cat_cells_limit:
            raise ValueError(
                f"categorical variables {cat_vars} produce more than "
                f"{cat_cells_limit} (value × strat) cells — a column is "
                "not actually categorical (ids? free text?); drop it or "
                "raise cat_cells_limit explicitly"
            )
        return rows

    # ---- schedule ---------------------------------------------------------
    # The melt and the weighted-quantile job depend on nothing, so they
    # start first, in the pool. Phase 1 is ONE aggregation in the
    # calling thread: rollup(strat) == grouping sets {(strat), ()}, so
    # per-strat cells AND the grand total (the "All_Patients" column) in
    # one pass; the cleaned strat is never null, so the null-strat row is
    # unambiguously the total. In data mode its HLL estimates then split
    # the quartiles into {sketch for high-cardinality vars ∥ exact disc
    # for low-cardinality vars} (phase 2).
    carry = carry_job_context(df.sparkSession)
    with ThreadPoolExecutor(max_workers=4) as pool:
        # 4 = the widest concurrent set: the melt ∥ sketch-global ∥
        # sketch-strat ∥ disc
        def submit(fn, *args):
            return pool.submit(carry(fn), *args)

        f_cat = submit(run_cat) if cat_vars else None
        f_wq = submit(run_wq) if weighted and cont_vars else None

        probe = data_mode and lowcard_quartile_max > 0
        aggs = _phase1_aggs(cont_vars, stratified, weighted, quantile_mode, probe)
        if stratified:
            # at most limit + 2 rows (strata plus the total row) reach
            # the driver: an id column used as the strat column fails fast
            rows = (
                work.rollup(STRAT)
                .agg(*aggs)
                .limit(strat_cardinality_limit + 2)
                .collect()
            )
            if len(rows) > strat_cardinality_limit + 1:
                raise ValueError(
                    f"stratification column {col_to_strat!r} has more than "
                    f"{strat_cardinality_limit} distinct values; the output "
                    "schema grows with strat cardinality — raise "
                    "strat_cardinality_limit explicitly if this is intended"
                )
            total_row = next((r for r in rows if r[STRAT] is None), None)
            strat_rows = [r for r in rows if r[STRAT] is not None]
        else:
            rows = work.groupBy().agg(*aggs).collect()
            total_row, strat_rows = rows[0], []
        if total_row is None and cont_vars:
            # only an empty stratified input leaves the rollup without
            # its grand-total row
            raise RuntimeError("rollup produced no grand-total row")
        out.total = (total_row["__c"] if total_row else None) or 0
        out.strat_counts = {r[STRAT]: r["__c"] for r in strat_rows}
        # sanitization-collision detection (SURVEY Q9): distinct raw
        # values mapping onto one cleaned value mean categories silently
        # merged ("a b" ≡ "a_b"; distinct non-ASCII runs ≡ "?")
        collided = sorted(r[STRAT] for r in strat_rows if r["__rmin"] != r["__rmax"])
        if collided:
            warnings.warn(
                f"strat sanitization merged distinct raw values into "
                f"{collided} (spaces→'_', non-ASCII→'?'; reference "
                ":89-92 semantics, SURVEY Q9)",
                stacklevel=3,
            )

        sketch_rows: list = []
        wq_rows: list = []
        lowcard_vars: set[str] = set()
        if data_mode:
            # lowcard_quartile_max=0 pins the sketch for everything, and
            # the HLL is then left out of phase 1
            high, low = [], []
            for i, v in enumerate(cont_vars):
                lowcard = probe and (total_row[f"cd__{i}"] or 0) <= lowcard_quartile_max
                (low if lowcard else high).append((i, v))
            lowcard_vars = {v for _i, v in low}
            f_sketches = []
            if high:
                # the reference's accuracy = max(n+1, 10000) makes the
                # sketch return exact data values; capped so it stays
                # bounded at scale (documented deviation above the cap)
                accuracy = min(max(out.total + 1, 10_000), exact_percentile_cap)
                if out.total + 1 > exact_percentile_cap:
                    warnings.warn(
                        f"{out.total} rows exceed exact_percentile_cap="
                        f"{exact_percentile_cap}: quartiles of high-cardinality "
                        f"variables {[v for _i, v in high]} are approximate "
                        f"(<=1/{exact_percentile_cap} relative rank error), not "
                        "the reference's exact data values. Raise the cap or use "
                        'quantile_mode="interpolated" for exact quartiles.',
                        stacklevel=3,
                    )
                sketch = _sketch_aggs(high, accuracy)
                f_sketches.append(submit(run_sketch, sketch, False))
                if stratified:
                    f_sketches.append(submit(run_sketch, sketch, True))
            f_low = submit(run_lowcard_disc, low) if low else None
            sketch_rows = [kr for f in f_sketches for kr in f.result()]
            wq_rows = f_low.result() if f_low is not None else []
        if f_wq is not None:
            wq_rows = f_wq.result()
        cat_rows = f_cat.result() if f_cat is not None else []

    # ---- unpack ---------------------------------------------------------
    quarts: dict[tuple[str, str | None], tuple] = {}
    for row in wq_rows:  # dict rows from run_wq / run_lowcard_disc
        key = row[STRAT] if stratified else None
        quarts[(row["t1_var"], key)] = (
            row["wq_25"], row["wq_50"], row["wq_75"],
        )
    sketch_by_key: dict[str | None, object] = {}
    for key, row in sketch_rows:  # (strat_key, Row) pairs; None = global
        sketch_by_key[key] = row
    for i, v in enumerate(cont_vars):
        out.cont[v] = {}
    for row in rows:
        key = row[STRAT] if stratified else None
        for i, v in enumerate(cont_vars):
            if weighted:
                q = quarts.get((v, key), (None, None, None))
                out.cont[v][key] = _row_to_stats_weighted(row, i, q)
            elif data_mode:
                if v in lowcard_vars:
                    # an all-NULL (var, strat) cell has no disc row —
                    # its quartiles are None, never a sketch lookup
                    # (the sketch rows only alias high-card vars)
                    q = quarts.get((v, key), (None, None, None))
                else:
                    srow = sketch_by_key.get(key)
                    qv = (srow[f"q__{i}"] if srow is not None else None) or [
                        None, None, None,
                    ]
                    q = (qv[0], qv[1], qv[2])
                out.cont[v][key] = _row_to_stats(row, i, q_override=q)
            else:
                out.cont[v][key] = _row_to_stats(row, i)

    for v in cat_vars:
        out.cat[v] = {}
    for row in cat_rows:
        key = row[STRAT] if stratified else None
        out.cat[row["t1_var"]][(row["t1_val"], key)] = row["ct"]

    return out
