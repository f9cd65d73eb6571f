"""Unit tests for the TableOne engine output contract on the canonical
patients fixture (reference testing.py:18-29; contract SURVEY §1.2)."""

from __future__ import annotations

import math
import struct
import warnings

import pytest

from tableone_pyspark_spark import tableone
from tableone_pyspark_spark.plans import inspect

from conftest import approx, rows_by_index

NAN = float("nan")


def _local(df) -> bool:
    """The result is a local relation: collecting it runs no job."""
    return inspect.executed_plan(df).startswith("LocalTableScan")


def _bits(x):
    return None if x is None else struct.pack(">d", x)


# ---------------------------------------------------------------------------
# unstratified
# ---------------------------------------------------------------------------


def test_unstratified_schema_and_total(patients):
    out = tableone(patients, cols_to_analyze=["name", "age"])
    assert out.columns == [
        "Pivoted_column", "Index", "Characteristics", "Variable_type",
        "Values", "All_Patients", "All_Patients_%",
    ]
    rows = rows_by_index(out)
    total = rows[(0.0, "ALL")]
    assert total["Characteristics"] == "Total"
    assert total["All_Patients"] == 10.0  # double: continuous var present
    assert total["All_Patients_%"] == 1.0
    assert total["Variable_type"] is None


def test_unstratified_categorical_counts_and_order(patients):
    rows = rows_by_index(tableone(patients, cols_to_analyze=["name"]))
    # name: John×3, Sally×4, Susi×1, MISSING×2; alpha order then MISSING last
    assert rows[(1.01, "John")]["All_Patients"] == 3
    assert rows[(1.02, "Sally")]["All_Patients"] == 4
    assert rows[(1.03, "Susi")]["All_Patients"] == 1
    assert rows[(1.04, "MISSING")]["All_Patients"] == 2
    assert approx(rows[(1.01, "John")]["All_Patients_%"], 0.3)
    assert rows[(1.01, "John")]["Variable_type"] == "category"
    # only categorical vars -> counts stay integral (long)
    out = tableone(patients, cols_to_analyze=["name"])
    assert dict(out.dtypes)["All_Patients"] == "bigint"
    assert _local(out)


def test_unstratified_continuous_stats(patients):
    rows = rows_by_index(tableone(patients, cols_to_analyze=["age"]))
    ages = [18, 25, 21, 55, 65, 70, 85, 19, 34, 28]
    n = len(ages)
    mean = sum(ages) / n
    var = sum((a - mean) ** 2 for a in ages) / (n - 1)
    assert rows[(1.1, "n")]["All_Patients"] == 10.0
    assert rows[(1.2, "min")]["All_Patients"] == 18.0
    assert rows[(1.3, "max")]["All_Patients"] == 85.0
    assert approx(rows[(1.4, "mean")]["All_Patients"], mean)
    assert approx(rows[(1.5, "stddev")]["All_Patients"], math.sqrt(var))
    # exact percentiles: value at ceil(p*n)-th element (Spark returns a
    # real data value at accuracy >= n+1)
    s = sorted(ages)
    assert rows[(1.6, "25th percentile")]["All_Patients"] == float(s[2])  # 21
    assert rows[(1.7, "50th percentile")]["All_Patients"] == float(s[4])  # 28
    assert rows[(1.8, "75th percentile")]["All_Patients"] == float(s[7])  # 65
    # continuous rows carry null percents
    assert rows[(1.4, "mean")]["All_Patients_%"] is None


def test_null_skipping_continuous_n(patients):
    # number_of_claims has 2 NaN (stored as NaN double, not null) — the
    # reference's pandas NaNs become Spark NaNs via testing.py; our
    # fixture uses real NaN doubles, which Spark count() includes but
    # avg/stddev poison. The *null* path: build variant with real nulls.
    variant = patients.selectExpr(
        "*", "CASE WHEN isnan(number_of_claims) THEN NULL ELSE number_of_claims END AS claims"
    )
    rows = rows_by_index(tableone(variant, cols_to_analyze=["claims"]))
    assert rows[(1.1, "n")]["All_Patients"] == 8.0  # nulls skipped
    vals = [10.0, 20.0, 15.0, 29.0, 55.0, 20.0, 16.0, 18.0]
    assert approx(rows[(1.4, "mean")]["All_Patients"], sum(vals) / len(vals))


# ---------------------------------------------------------------------------
# stratified
# ---------------------------------------------------------------------------


def test_stratified_pivot_columns_and_total(patients):
    out = tableone(patients, col_to_strat="plan", cols_to_analyze=["name", "age"])
    # plan: PPO×4, HMO×2, FFS×2, null×2 → FFS, HMO, PPO, MISSING
    assert out.columns == [
        "Pivoted_column", "Index", "Characteristics", "Variable_type", "Values",
        "All_Patients", "All_Patients_%", "FFS", "FFS_%", "HMO", "HMO_%",
        "PPO", "PPO_%", "MISSING", "MISSING_%",
    ]
    rows = rows_by_index(out)
    total = rows[(0.0, "ALL")]
    assert (total["FFS"], total["HMO"], total["PPO"], total["MISSING"]) == (2.0, 2.0, 4.0, 2.0)
    assert total["All_Patients"] == 10.0
    assert total["FFS_%"] == 1.0
    assert rows[(0.0, "ALL")]["Pivoted_column"] == "plan"


def test_stratified_categorical_zero_fill_and_percents(patients):
    rows = rows_by_index(
        tableone(patients, col_to_strat="plan", cols_to_analyze=["name"])
    )
    john = rows[(1.01, "John")]
    # John: PPO×2 (PID 1,7), HMO×1 (PID 3) — zero-filled FFS/MISSING
    assert (john["FFS"], john["HMO"], john["PPO"], john["MISSING"]) == (0, 1, 2, 0)
    assert approx(john["PPO_%"], 2 / 4)
    assert approx(john["FFS_%"], 0.0)
    assert approx(john["All_Patients_%"], 3 / 10)
    missing = rows[(1.04, "MISSING")]
    # name-MISSING: PID 6 (plan null→MISSING), PID 9 (HMO)
    assert (missing["HMO"], missing["MISSING"]) == (1, 1)


def test_yes_no_missing_ordering(spark):
    df = spark.createDataFrame(
        [(v,) for v in ["No", "Yes", "alpha", "Unknown", "No", None, "beta"]],
        "yn string",
    )
    rows = rows_by_index(tableone(df, cols_to_analyze=["yn"]))
    order = [rows[k]["Values"] for k in sorted(rows) if k[0] > 0]
    assert order == ["Yes", "No", "alpha", "beta", "Unknown", "MISSING"]


def test_strat_value_sanitization(spark):
    df = spark.createDataFrame(
        [("gold plan", 1.0), ("café", 2.0), (None, 3.0), ("gold plan", 4.0)],
        "strat string, x double",
    )
    out = tableone(df, col_to_strat="strat", cols_to_analyze=["x"])
    assert "gold_plan" in out.columns
    assert "caf?" in out.columns
    assert "MISSING" in out.columns


def test_stratified_continuous_per_group(patients):
    rows = rows_by_index(
        tableone(patients, col_to_strat="plan", cols_to_analyze=["age"])
    )
    # PPO ages: 18, 25, 55, 85 ; HMO: 21, 34 ; FFS: 65, 19 ; MISSING: 70, 28
    assert rows[(1.1, "n")]["PPO"] == 4.0
    assert rows[(1.2, "min")]["PPO"] == 18.0
    assert rows[(1.3, "max")]["PPO"] == 85.0
    assert approx(rows[(1.4, "mean")]["HMO"], 27.5)
    assert approx(rows[(1.4, "mean")]["MISSING"], 49.0)
    assert rows[(1.1, "n")]["All_Patients"] == 10.0


# ---------------------------------------------------------------------------
# p-values
# ---------------------------------------------------------------------------


def _f_oneway(groups):
    """Textbook one-way ANOVA, computed from raw data (independent of
    the engine's moments-based path)."""
    k = len(groups)
    n = sum(len(g) for g in groups)
    grand = sum(sum(g) for g in groups) / n
    ssb = sum(len(g) * (sum(g) / len(g) - grand) ** 2 for g in groups)
    ssw = sum(sum((x - sum(g) / len(g)) ** 2 for x in g) for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    from tableone_pyspark_spark.core import special

    return f, special.f_sf(f, k - 1, n - k)


def test_p_values_anova_and_chisq(patients):
    out = tableone(
        patients, col_to_strat="plan", cols_to_analyze=["name", "age"], p_values=True
    )
    rows = rows_by_index(out)
    # age: 4 strat groups → ANOVA on the n row
    anchor = rows[(2.1, "n")]
    assert anchor["test_name"] == "ANOVA"
    groups = [[18, 25, 55, 85], [21, 34], [65, 19], [70, 28]]
    f, p = _f_oneway(groups)
    assert approx(anchor["test_value"], float(f), tol=1e-9)
    assert approx(anchor["p_value"], float(p), tol=1e-9)
    # name: chi-square anchored on first category row
    cat_anchor = rows[(1.01, "John")]
    assert cat_anchor["test_name"] == "Chi-Square"
    # non-anchor rows carry nulls
    assert rows[(2.4, "mean")]["test_name"] is None
    assert rows[(1.02, "Sally")]["p_value"] is None


def test_p_values_t_test_two_groups(spark):
    # y holds NaN, None and -0.0: the result is a local relation and
    # hands every cell back bit for bit
    data = [
        ("A", 1.0, NAN), ("A", 2.0, None), ("A", 4.0, -0.0),
        ("B", 2.0, -0.0), ("B", 5.0, None), ("B", 9.0, None),
    ]
    df = spark.createDataFrame(data, "g string, x double, y double")
    out = tableone(df, col_to_strat="g", cols_to_analyze=["x", "y"], p_values=True)
    assert _local(out)
    rows = rows_by_index(out)
    expected = {  # (All_Patients, A, B)
        (2.1, "n"): (3.0, 2.0, 1.0),
        (2.2, "min"): (-0.0, -0.0, -0.0),
        (2.3, "max"): (NAN, NAN, -0.0),
        (2.4, "mean"): (NAN, NAN, 0.0),
        (2.5, "stddev"): (NAN, NAN, None),
        (2.6, "25th percentile"): (0.0, 0.0, 0.0),
        (2.7, "50th percentile"): (0.0, 0.0, 0.0),
        (2.8, "75th percentile"): (NAN, NAN, 0.0),
    }
    for key, cells in expected.items():
        got = tuple(rows[key][c] for c in ("All_Patients", "A", "B"))
        assert list(map(_bits, got)) == list(map(_bits, cells)), (key, got)
    anchor = rows[(1.1, "n")]
    # textbook pooled-variance t from raw data
    a, b = [1.0, 2.0, 4.0], [2.0, 5.0, 9.0]
    ma, mb = sum(a) / 3, sum(b) / 3
    va = sum((x - ma) ** 2 for x in a) / 2
    vb = sum((x - mb) ** 2 for x in b) / 2
    sp2 = (2 * va + 2 * vb) / 4
    t = (ma - mb) / math.sqrt(sp2 * (2 / 3))
    from tableone_pyspark_spark.core import special

    p = special.t_sf_two_sided(t, 4)
    assert anchor["test_name"] == "t-test"
    assert approx(abs(anchor["test_value"]), abs(t))
    assert approx(anchor["p_value"], p)


def test_chi_square_not_done_gate(spark):
    # <5 non-MISSING rows → NOT DONE (reference :503-516)
    data = [("a", "X"), ("b", "Y"), (None, "X"), (None, "Y"), ("a", "X")]
    df = spark.createDataFrame(data, "c string, g string")
    rows = rows_by_index(
        tableone(df, col_to_strat="g", cols_to_analyze=["c"], p_values=True)
    )
    anchor = rows[(1.01, "a")]
    assert anchor["test_name"] == "NOT DONE"
    assert math.isnan(anchor["p_value"])


def test_p_values_forced_off_unstratified(patients):
    out = tableone(patients, cols_to_analyze=["age"], p_values=True)
    assert "p_value" not in out.columns


# ---------------------------------------------------------------------------
# hardening / quirks
# ---------------------------------------------------------------------------


def test_empty_cols_raises(patients):
    with pytest.raises(ValueError):
        tableone(patients, cols_to_analyze=[])


def test_unknown_column_raises(patients):
    with pytest.raises(ValueError):
        tableone(patients, cols_to_analyze=["nope"])


def test_unsupported_dtype_skipped(spark):
    df = spark.createDataFrame(
        [(True, 1.0), (False, 2.0)], "flag boolean, x double"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = tableone(df, cols_to_analyze=["flag", "x"])
    assert any("Not supported" in str(x.message) for x in w)
    chars = {r["Characteristics"] for r in out.collect()}
    assert chars == {"Total", "x"}


def test_numeric_strat_cast(spark):
    # Q11: numeric strat works (reference silently no-ops the fillna)
    df = spark.createDataFrame([(1, 5.0), (2, 6.0), (None, 7.0)], "g int, x double")
    out = tableone(df, col_to_strat="g", cols_to_analyze=["x"])
    assert {"1", "2", "MISSING"}.issubset(set(out.columns))


def test_beautify(patients):
    out = tableone(
        patients, col_to_strat="plan", cols_to_analyze=["name", "age"], beautify=True
    )
    assert "Pivoted_column" not in out.columns
    assert "Variable_type" not in out.columns
    assert _local(out)
    rows = out.collect()
    # each Characteristics appears exactly once (first row of its block)
    named = [r["Characteristics"] for r in rows if r["Characteristics"] is not None]
    assert sorted(named) == ["Total", "age", "name"]


def test_partition_invariance(patients):
    base = {
        (r["Index"], r["Values"]): r["All_Patients"]
        for r in tableone(patients, col_to_strat="plan", cols_to_analyze=["name", "age"]).collect()
    }
    for k in (1, 7):
        got = {
            (r["Index"], r["Values"]): r["All_Patients"]
            for r in tableone(
                patients.repartition(k), col_to_strat="plan", cols_to_analyze=["name", "age"]
            ).collect()
        }
        assert got.keys() == base.keys()
        for key in base:
            # float aggregation order differs across partitionings → ulp drift
            assert approx(got[key], base[key], tol=1e-12), (key, got[key], base[key])


def test_percent_sums(patients):
    rows = rows_by_index(
        tableone(patients, col_to_strat="plan", cols_to_analyze=["name"])
    )
    cat = [v for k, v in rows.items() if 1.0 < k[0] < 2.0]
    for col in ["All_Patients_%", "FFS_%", "HMO_%", "PPO_%", "MISSING_%"]:
        assert approx(sum(r[col] for r in cat), 1.0)
    for col in ["All_Patients", "FFS", "HMO", "PPO", "MISSING"]:
        assert sum(r[col] for r in cat) == rows[(0.0, "ALL")][col]


def test_compat_shim_signature(spark, patients):
    """tableone_pyspark(...) accepts the reference's exact parameter
    names/order (reference :20) and matches tableone(...) output."""
    from tableone_pyspark_spark import tableone, tableone_pyspark

    a = tableone_pyspark(
        patients, spark, col_to_strat="plan",
        cols_to_analyze_list=["name", "age"], beautify=False, p_values=False,
    )
    b = tableone(patients, col_to_strat="plan", cols_to_analyze=["name", "age"])
    assert a.columns == b.columns
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sanitization_collision_warns(spark):
    """SURVEY Q9: distinct raw strat values merged by sanitization
    ('a b' ≡ 'a_b') must emit a warning, and counts merge."""
    df = spark.createDataFrame(
        [("a b", 1.0), ("a_b", 2.0), ("ok", 3.0)], "strat string, x double"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = tableone(df, col_to_strat="strat", cols_to_analyze=["x"]).collect()
    assert any("merged" in str(x.message) for x in w)
    total = [r for r in out if r["Characteristics"] == "Total"][0]
    assert total["a_b"] == 2.0  # the two raw values merged into one pivot


def test_index_collision_warns(spark):
    """SURVEY Q10: >=100 categories in one variable warns (fractional
    Index would collide with the next variable)."""
    df = spark.createDataFrame(
        [(f"cat_{i:03d}",) for i in range(105)], "c string"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        tableone(df, cols_to_analyze=["c"]).collect()
    assert any("categories" in str(x.message) for x in w)


def test_percentile_cap_truncation_warns(spark):
    """When n+1 exceeds exact_percentile_cap in the default "data" mode
    AND a high-cardinality variable actually takes the sketch path, the
    engine must say those quartiles are no longer reference-exact.
    Low-cardinality variables (r6 hybrid) take the exact disc path and
    must NOT warn — their quartiles stay exact regardless of the cap."""
    from tableone_pyspark_spark import TableOneConfig

    df = spark.range(500).selectExpr("CAST(id AS DOUBLE) AS x")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        # lowcard_quartile_max=0 forces the sketch (pre-r6 behavior)
        tableone(
            df,
            cols_to_analyze=["x"],
            config=TableOneConfig(exact_percentile_cap=100, lowcard_quartile_max=0),
        ).collect()
    assert any("exact_percentile_cap" in str(w.message) for w in caught)

    # hybrid default: 500 distinct <= 2048 -> exact disc path, no
    # sketch, no warning — and the median is exactly the disc value
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = rows_by_index(
            tableone(df, cols_to_analyze=["x"],
                     config=TableOneConfig(exact_percentile_cap=100))
        )
    assert not any("exact_percentile_cap" in str(w.message) for w in caught)
    assert out[(1.7, "50th percentile")]["All_Patients"] == 249.0

    # interpolated mode never warns (the knob is unused)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        tableone(
            df,
            cols_to_analyze=["x"],
            config=TableOneConfig(exact_percentile_cap=100, quantile_mode="interpolated"),
        ).collect()
    assert not any("exact_percentile_cap" in str(w.message) for w in caught)


# ---------------------------------------------------------------------------
# weighted TableOne (weight_col; extension — reference has no weights)
# ---------------------------------------------------------------------------




def test_hybrid_mixed_cardinality_with_all_null_strat_cell(spark):
    """r6 hybrid regression: a LOW-cardinality variable whose values
    are all NULL within one stratum, alongside a HIGH-cardinality
    variable (so sketch rows exist), must yield None quartiles for
    that cell — not a missing-field crash on the sketch row."""
    from pyspark.sql import functions as F

    from tableone_pyspark_spark import TableOneConfig

    n = 400
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
            # high-card: near-unique
            (F.col("id") * 1.0 + 0.5).alias("hx"),
            # low-card: 3 distinct values, but ALL NULL in stratum b
            F.when(
                F.col("id") % 2 == 0, (F.col("id") % 3).cast("double")
            ).alias("lx"),
        )
    )
    out = rows_by_index(
        tableone(
            df, col_to_strat="g", cols_to_analyze=["hx", "lx"],
            config=TableOneConfig(lowcard_quartile_max=10),
        )
    )
    # lx in stratum b: no values -> n=0, quartiles None
    assert out[(2.1, "n")]["b"] == 0.0
    assert out[(2.7, "50th percentile")]["b"] is None
    # lx in stratum a: exact disc over {0,1,2} with 67/67/66 counts
    assert out[(2.7, "50th percentile")]["a"] == 1.0
    # hx (sketch path) still produces per-strat and global medians
    assert out[(1.7, "50th percentile")]["All_Patients"] is not None
    assert out[(1.7, "50th percentile")]["a"] is not None



def test_weighted_tableone_equals_replicated_rows(spark):
    """THE semantic pin for frequency weights: tableone(weight_col=w)
    with integer w must reproduce tableone() on the row-replicated
    frame EXACTLY — every count, percent, moment, quartile, and
    p-value (weighted quantile_disc reduces to quantile_disc at
    integer w)."""
    from pyspark.sql import functions as F

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .where(F.col("l_orderkey") % 7 == 0)
        .withColumn("w", (F.col("l_orderkey") % 4 + 1).cast("int"))
        .select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "w"
        )
    )
    cols = ["l_linestatus", "l_quantity", "l_extendedprice"]
    weighted = tableone(
        li, col_to_strat="l_returnflag", cols_to_analyze=cols,
        p_values=True, weight_col="w",
    )
    replicated = li.withColumn(
        "__r", F.explode(F.array_repeat(F.lit(1), F.col("w")))
    )
    plain = tableone(
        replicated, col_to_strat="l_returnflag", cols_to_analyze=cols,
        p_values=True,
    )
    a = rows_by_index(weighted)
    b = rows_by_index(plain)
    assert a.keys() == b.keys() and len(a) > 10
    for k in a:
        for col in a[k]:
            assert approx(a[k][col], b[k][col], tol=1e-7), (k, col, a[k][col], b[k][col])


def test_weighted_tableone_excludes_nonpositive_weights(spark):
    rows = [("a", 10.0, 2.0), ("a", 20.0, 0.0), ("b", 30.0, None), ("b", 40.0, 1.5)]
    df = spark.createDataFrame(rows, "g string, x double, w double")
    out = rows_by_index(tableone(df, cols_to_analyze=["g", "x"], weight_col="w"))
    # only the w=2.0 and w=1.5 rows survive: total Sigma-w = 3.5
    assert out[(0.0, "ALL")]["All_Patients"] == 3.5
    assert out[(1.01, "a")]["All_Patients"] == 2.0
    assert out[(1.02, "b")]["All_Patients"] == 1.5
    assert approx(out[(1.01, "a")]["All_Patients_%"], 2.0 / 3.5)
    # weighted mean of x over surviving rows: (2*10 + 1.5*40)/3.5
    assert approx(out[(2.4, "mean")]["All_Patients"], (2 * 10 + 1.5 * 40) / 3.5)
    # weighted n row
    assert out[(2.1, "n")]["All_Patients"] == 3.5


def test_weighted_quantile_disc_fractional_weights(spark):
    """Weighted quartile = min x with cumSigma-w >= p*Sigma-w, checked
    by hand with fractional weights."""
    rows = [(1.0, 0.5), (2.0, 0.25), (3.0, 0.125), (4.0, 2.0)]
    df = spark.createDataFrame(rows, "x double, w double")
    out = rows_by_index(tableone(df, cols_to_analyze=["x"], weight_col="w"))
    # total w = 2.875; p=.25 -> 0.71875: cum(1)=0.5 < .71875, cum(2)=0.75 -> 2
    assert out[(1.6, "25th percentile")]["All_Patients"] == 2.0
    # p=.5 -> 1.4375: cum(3)=0.875 < 1.4375, cum(4)=2.875 -> 4
    assert out[(1.7, "50th percentile")]["All_Patients"] == 4.0
    assert out[(1.8, "75th percentile")]["All_Patients"] == 4.0
    assert out[(1.2, "min")]["All_Patients"] == 1.0
    assert out[(1.3, "max")]["All_Patients"] == 4.0


def test_weighted_quantile_interpolated_fractional_weights(spark):
    """Interpolated weighted quartile with FRACTIONAL weights, checked
    by hand: t = p*(SUMw-1); value_at(j) = min x with cumSUMw > j;
    result = blend(value_at(floor t), value_at(floor t + 1), frac).
    x=[1,2], w=[1.5,1.5]: W=3, cum=(1.5, 3.0) ->
    p25: t=0.5 -> lo=hi=1 -> 1.0; p50: t=1.0, frac=0 -> 1.0;
    p75: t=1.5 -> lo=1 (1.5>1), hi=2 (3>2) -> 1.5."""
    from tableone_pyspark_spark import TableOneConfig

    rows = [(1.0, 1.5), (2.0, 1.5)]
    df = spark.createDataFrame(rows, "x double, w double")
    out = rows_by_index(
        tableone(
            df, cols_to_analyze=["x"], weight_col="w",
            config=TableOneConfig(quantile_mode="interpolated"),
        )
    )
    assert out[(1.6, "25th percentile")]["All_Patients"] == 1.0
    assert out[(1.7, "50th percentile")]["All_Patients"] == 1.0
    assert out[(1.8, "75th percentile")]["All_Patients"] == 1.5


def test_weighted_tableone_rejects_bad_weight_col(spark):
    df = spark.createDataFrame([("a", "x")], "g string, w string")
    with pytest.raises(ValueError, match="must be numeric"):
        tableone(df, cols_to_analyze=["g"], weight_col="w")
    with pytest.raises(ValueError, match="not in DataFrame"):
        tableone(df, cols_to_analyze=["g"], weight_col="nope")


def test_every_job_of_a_call_carries_the_callers_job_group(spark):
    """Jobs run from collect_sufficient's pool (melt, sketches, disc)
    inherit the caller's job group, so a call's jobs can be named and
    cancelled together."""
    from pyspark.sql import functions as F

    from tableone_pyspark_spark import TableOneConfig

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.range(400).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
        (F.col("id") % 3).cast("string").alias("c"),
        (F.col("id") % 4).cast("double").alias("lx"),  # exact disc
        (F.col("id") * 1.0 + 0.5).alias("hx"),  # sketch
    )
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("tableone-job-group-test", "tableone call")
    try:
        tableone(
            df, col_to_strat="g", cols_to_analyze=["c", "lx", "hx"],
            config=TableOneConfig(lowcard_quartile_max=10),
        ).collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    # rollup, melt, global sketch, per-strat sketch, disc: two jobs each
    # (shuffle map stage + result); the result collect runs none
    assert 0 < len(tracker.getJobIdsForGroup("tableone-job-group-test")) <= 10


def test_call_runs_with_pinned_threads_off():
    """With PYSPARK_PIN_THREAD=false PySpark has no job group to carry
    into pool threads (it hands the session back from
    inheritable_thread_target); a call must still run."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "from pyspark.sql import SparkSession\n"
        "from tableone_pyspark_spark import tableone\n"
        "s = (SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate())\n"
        "df = s.createDataFrame([('a', 'x', 1.0), ('b', 'y', 2.0)], 'g string, c string, v double')\n"
        "print(len(tableone(df, col_to_strat='g', cols_to_analyze=['c', 'v']).collect()))\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        env=dict(os.environ, PYSPARK_PIN_THREAD="false"),
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.split()[-1] == "11"  # total, 2 categories, 8 stats


def test_cli_output_equals_in_process_result(spark, patients, tmp_path):
    """``python -m tableone_pyspark_spark`` writes the same table the
    API returns. It runs in a subprocess: ``main()`` stops the session
    it gets, which in-process would be the shared test session."""
    import struct
    import subprocess
    import sys
    from pathlib import Path

    src, dst = str(tmp_path / "in.parquet"), str(tmp_path / "out.parquet")
    patients.write.parquet(src)
    done = subprocess.run(
        [sys.executable, "-m", "tableone_pyspark_spark", src,
         "--cols", "name,region,age,number_of_claims", "--strat", "plan",
         "--p-values", "--output", dst, "--master", "local[2]"],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]

    def cells(df):
        # bit-for-bit: NaN equals NaN, -0.0 differs from 0.0
        return [
            tuple(struct.pack("<d", v) if isinstance(v, float) else v for v in r)
            for r in df.orderBy("Index", "Values").collect()
        ]

    want = tableone(
        spark.read.parquet(src), col_to_strat="plan",
        cols_to_analyze=["name", "region", "age", "number_of_claims"],
        p_values=True,
    )
    got = spark.read.parquet(dst)
    assert got.columns == want.columns
    assert cells(got) == cells(want)
    assert len(cells(want)) > 10
