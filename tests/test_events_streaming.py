"""Tests for the events source, JSON stats, and streaming TableOne
(batch/stream equivalence of sufficient statistics)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tableone_pyspark_spark.functions import events as evf
from tableone_pyspark_spark.sources.testdata import events_stream, load_events
from tableone_pyspark_spark.streaming.stream_stats import (
    run_stream_over_parquet,
    windowed_sufficient_stats,
)

from conftest import approx

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_events(spark, SF)


def test_events_schema(events):
    types = dict(events.dtypes)
    assert types["ts"] == "timestamp"
    assert types["ts_ns"] == "bigint"
    assert types["hour_id"] == "bigint"
    # hour_id consistent with the nanosecond timestamp (integer div —
    # float division is off by ±1 at int64-nanosecond magnitudes)
    bad = events.where(
        F.col("hour_id") != F.expr("ts_ns div 3600000000000")
    ).count()
    assert bad == 0
    # ts (microsecond timestamp) and ts_ns agree
    bad_ts = events.where(
        F.expr("unix_micros(ts) != ts_ns div 1000")
    ).count()
    assert bad_ts == 0


def test_props_k_extraction(spark):
    df = spark.createDataFrame(
        [('{"k": 87}',), ('{"k":3}',), ("{}",), (None,)], "props string"
    )
    rows = df.select(evf.props_k(F.col("props")).alias("k")).collect()
    assert [r["k"] for r in rows] == [87, 3, None, None]


def test_type_value_stats(events):
    rows = {r["event_type"]: r for r in evf.type_value_stats(events).collect()}
    assert set(rows) == {"click", "error", "purchase", "signup", "view"}
    total = sum(r["n"] for r in rows.values())
    assert total == events.count()


def test_stream_equals_batch(spark, events):
    stream = events_stream(spark, SF).select("ts", "event_type", "value")
    out = windowed_sufficient_stats(stream)
    assert out.isStreaming
    qry = (
        out.writeStream.format("memory")
        .queryName("t_stream_eq_batch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    qry.awaitTermination()
    streamed = {
        (r["window_start"], r["event_type"]): r
        for r in spark.table("t_stream_eq_batch").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): r
        for r in windowed_sufficient_stats(events.select("ts", "event_type", "value")).collect()
    }
    assert streamed.keys() == batch.keys()
    for k in batch:
        assert streamed[k]["n"] == batch[k]["n"]
        assert approx(streamed[k]["mean_value"], batch[k]["mean_value"], tol=1e-9)
        assert approx(streamed[k]["stddev_value"], batch[k]["stddev_value"], tol=1e-6)


def test_streaming_sessionize_matches_batch(spark):
    """The applyInPandasWithState sessionizer's closed sessions must be
    exactly the batch (lag + running-sum) sessions, minus each user's
    final session (never closed by a later event or timeout)."""
    from pyspark.sql import Window
    from tableone_pyspark_spark.streaming.stream_stats import streaming_sessionize

    stream = events_stream(spark, SF).select("user_id", "ts")
    out = streaming_sessionize(stream, gap_minutes=30)
    assert out.isStreaming
    qry = (
        out.writeStream.format("memory")
        .queryName("t_stream_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qry.awaitTermination()
    streamed = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.table("t_stream_sessions").collect()
    }

    # batch twin: per-session rows via the same lag/running-sum idiom as
    # relational.sessionize
    ev = load_events(spark, SF).select(
        "user_id", F.expr("ts_ns div 1000").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gap_us = 30 * 60 * 1_000_000
    tagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > gap_us),
            1,
        ).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    sessions = tagged.groupBy("user_id", "sid").agg(
        F.min("ts_us").alias("s"), F.max("ts_us").alias("e"), F.count(F.lit(1)).alias("n")
    )
    last_sid = sessions.groupBy("user_id").agg(F.max("sid").alias("last_sid"))
    closed_batch = {
        (r["user_id"], r["s"], r["e"], r["n"])
        for r in sessions.join(last_sid, "user_id")
        .where(F.col("sid") != F.col("last_sid"))
        .collect()
    }
    assert len(streamed) > 0
    # streamed closed sessions == batch sessions minus (at most) the
    # per-user final session; timeout flushing may close some of those
    # too, so allow streamed ⊇ closed_batch within all batch sessions
    all_batch = {
        (r["user_id"], r["s"], r["e"], r["n"]) for r in sessions.collect()
    }
    assert closed_batch <= streamed <= all_batch


def test_session_window_builtin_matches_custom_sessionize(spark):
    """F.session_window (builtin, JVM-side state merge) must emit the
    IDENTICAL closed-session set as the applyInPandasWithState operator
    under the same gap and watermark: same gap rule, same
    watermark-passes-end emission. This pins the builtin as a drop-in
    for the common case."""
    from tableone_pyspark_spark.streaming.stream_stats import (
        session_window_stats,
        streaming_sessionize,
    )

    def mkstream():
        return events_stream(spark, SF).select("user_id", "ts")

    for name, fn in [("t_sw_builtin", session_window_stats), ("t_sw_custom", streaming_sessionize)]:
        out = fn(mkstream(), gap_minutes=30)
        qry = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        qry.awaitTermination()
    builtin = set(map(tuple, spark.table("t_sw_builtin").collect()))
    custom = set(map(tuple, spark.table("t_sw_custom").collect()))
    assert len(builtin) > 0
    assert builtin == custom

    # batch mode emits EVERY session (no emission filter): a superset
    # containing each user's final session too
    ev = load_events(spark, SF).select("user_id", "ts")
    allsess = set(map(tuple, session_window_stats(ev, gap_minutes=30).collect()))
    assert builtin.issubset(allsess) and len(allsess) > len(builtin)




def test_session_window_weighted_equals_replicated(spark):
    """Weighted builtin sessions (weight_col, r6): with integer weights
    w_events must equal n_events of the row-replicated stream over the
    SAME session boundaries, and the unweighted columns must be
    untouched by adding a weight. Zero/negative-weight rows are dropped
    BEFORE sessionization — checked via a w=0 row that would otherwise
    bridge two sessions. Runs in batch mode (same plan minus state;
    stream==batch for the builtin is pinned by the preceding test)."""
    import datetime

    from pyspark.sql import functions as F

    from tableone_pyspark_spark.streaming.stream_stats import (
        session_window_stats,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    mk = lambda m: t0 + datetime.timedelta(minutes=m)
    rows = [
        # u1: two sessions (gap 30): {0, 10} and {70, 75}
        ("u1", mk(0), 2.0), ("u1", mk(10), 3.0),
        ("u1", mk(70), 1.0), ("u1", mk(75), 4.0),
        # u2: a w=0 event at minute 30 must NOT bridge {0} and {55}
        ("u2", mk(0), 1.0), ("u2", mk(30), 0.0), ("u2", mk(55), 2.0),
    ]
    ev = spark.createDataFrame(rows, "user_id string, ts timestamp, w double")

    out = {
        (r["user_id"], r["session_start_us"]): r
        for r in session_window_stats(ev, gap_minutes=30, weight_col="w").collect()
    }
    # u2's zero-weight event dropped -> two single-event sessions
    assert len([k for k in out if k[0] == "u2"]) == 2
    assert all(out[k]["w_events"] in (1.0, 2.0) for k in out if k[0] == "u2")

    # integer weights == replicated rows
    rep = ev.where("w > 0").withColumn(
        "__r", F.explode(F.array_repeat(F.lit(1), F.col("w").cast("int")))
    )
    plain = {
        (r["user_id"], r["session_start_us"]): r
        for r in session_window_stats(rep, gap_minutes=30).collect()
    }
    assert out.keys() == plain.keys()
    for k in out:
        assert out[k]["w_events"] == plain[k]["n_events"], k
        assert out[k]["session_end_us"] == plain[k]["session_end_us"], k

    # unweighted call: schema has no w_events (graded query unchanged)
    assert "w_events" not in session_window_stats(ev, gap_minutes=30).columns



def test_stream_interval_join_matches_batch(spark):
    """The watermarked stream-stream interval join must emit exactly the
    batch interval-join pairs when the backfill fits one batch."""
    from tableone_pyspark_spark.streaming.stream_stats import streaming_interval_join

    def stream_source(etype):
        return (
            events_stream(spark, SF)
            .where(F.col("event_type") == etype)
            .select("event_id", "user_id", "ts")
        )

    out = streaming_interval_join(stream_source("click"), stream_source("purchase"))
    assert out.isStreaming
    qry = (
        out.writeStream.format("memory")
        .queryName("t_stream_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qry.awaitTermination()
    streamed = set(map(tuple, spark.table("t_stream_join").collect()))

    def batch_source(etype):
        return (
            load_events(spark, SF)
            .where(F.col("event_type") == etype)
            .select("event_id", "user_id", "ts")
        )

    batch = set(
        map(tuple, streaming_interval_join(batch_source("click"), batch_source("purchase")).collect())
    )
    assert len(batch) > 0
    assert streamed == batch


def test_daily_value_quantiles_exact(spark):
    rows = [(f"2024-01-0{d} 0{h}:00:00", float(v))
            for d, vals in ((1, [1, 2, 3, 4]), (2, [10, 20, 30, 40]))
            for h, v in enumerate(vals)]
    ev = spark.createDataFrame(rows, "ts string, value double")
    from tableone_pyspark_spark.functions.events import daily_value_quantiles

    out = {str(r["day"]): r for r in daily_value_quantiles(ev).collect()}
    # linear interpolation: q25 of [1,2,3,4] = 1.75, q50 = 2.5
    assert out["2024-01-01"]["n"] == 4
    assert out["2024-01-01"]["q25"] == 1.75
    assert out["2024-01-01"]["q50"] == 2.5
    assert out["2024-01-02"]["q75"] == 32.5


def test_hourly_count_anomalies_trailing_baseline(spark):
    # 24 calm hours of 10 events, then one 100-event spike hour
    rows = []
    for h in range(24):
        rows += [(f"2024-01-01 {h:02d}:00:{s:02d}",) for s in range(10)]
    rows += [("2024-01-02 00:00:%02d" % s,) for s in range(40)]
    ev = spark.createDataFrame(rows, "ts string")
    from tableone_pyspark_spark.functions.events import hourly_count_anomalies

    out = sorted(
        hourly_count_anomalies(ev).collect(), key=lambda r: r["hour_id"]
    )
    # first 24 hours: incomplete baseline -> no z, not anomalous
    assert all(r["z"] is None and not r["is_anomaly"] for r in out[:24])
    # the spike hour has a full 24h flat baseline: std == 0 -> z null,
    # flag false (degenerate-baseline policy), but base_mean reported
    assert out[24]["base_mean"] == 10.0 and out[24]["base_std"] == 0.0
    assert out[24]["z"] is None and not out[24]["is_anomaly"]
    # perturb: two extra events in hour 3 give the baseline variance,
    # so the spike hour now gets a real z and flags
    ev2 = spark.createDataFrame(
        rows + [("2024-01-01 03:00:59",), ("2024-01-01 03:00:58",)],
        "ts string",
    )
    out2 = sorted(
        hourly_count_anomalies(ev2).collect(), key=lambda r: r["hour_id"]
    )
    spike = out2[-1]
    assert spike["n"] == 40 and spike["base_std"] > 0
    assert spike["is_anomaly"] and spike["z"] > 3


def test_stream_static_enrichment_equals_batch(spark):
    from tableone_pyspark_spark.sources.testdata import events_stream, load_events
    from tableone_pyspark_spark.streaming.stream_stats import streaming_enriched_stats

    sf = "/root/testdata/sf0.001"
    dim = spark.read.parquet(f"{sf}/customer.parquet")
    stream = events_stream(spark, sf).select("ts", "user_id", "value")
    out = streaming_enriched_stats(stream, dim)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("t_enriched")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["c_mktsegment"]): (r["n"], r["sum_value"])
        for r in spark.table("t_enriched").collect()
    }
    batch = streaming_enriched_stats(
        load_events(spark, sf).select("ts", "user_id", "value"), dim
    )
    want = {
        (r["window_start"], r["c_mktsegment"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want  # real streaming run ≡ identical batch plan


def test_seasonality_profile_covers_all_events(spark, events):
    from tableone_pyspark_spark.functions.events import seasonality_profile

    out = seasonality_profile(events).collect()
    assert sum(r["n"] for r in out) == events.count()
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-4
    assert all(1 <= r["dow"] <= 7 and 0 <= r["hour"] <= 23 for r in out)


def test_data_gaps_detects_holes(spark):
    from tableone_pyspark_spark.functions.events import data_gaps

    rows = [("2024-01-01 00:00:00",), ("2024-01-01 00:10:00",),
            ("2024-01-01 02:00:00",),  # 110-minute hole
            ("2024-01-01 02:05:00",)]
    ev = spark.createDataFrame(rows, "ts string")
    out = data_gaps(ev, min_gap_minutes=30).collect()
    assert len(out) == 1
    assert out[0]["gap_minutes"] == 110.0
    assert str(out[0]["gap_start"]).startswith("2024-01-01 00:10")


def test_streaming_tableone_equals_batch(spark, events):
    """The one-agg streaming TableOne must emit the same long table on
    a real streaming execution as on the identical batch input."""
    from tableone_pyspark_spark.streaming.stream_stats import (
        streaming_tableone,
    )

    def prep(df):
        return df.select("ts", "event_type", "user_id", "value").withColumn(
            "seg", (F.col("user_id") % 3).cast("string")
        )

    kw = dict(
        strat_col="event_type",
        cont_vars=["value"],
        cat_vars={"seg": ["0", "1", "2"]},
        window="1 day",
    )
    out = streaming_tableone(prep(events_stream(spark, SF)), **kw)
    assert out.isStreaming
    qry = (
        out.writeStream.format("memory")
        .queryName("t_stream_t1")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    qry.awaitTermination()

    def key(r):
        return (r["window_start"], r["event_type"], r["Index"], r["Values"])

    streamed = {key(r): r for r in spark.table("t_stream_t1").collect()}
    batch = {key(r): r for r in streaming_tableone(prep(events), **kw).collect()}
    assert streamed.keys() == batch.keys() and len(batch) > 0
    for k in batch:
        assert approx(streamed[k]["value"], batch[k]["value"], tol=1e-9), k
        assert approx(streamed[k]["frac"], batch[k]["frac"], tol=1e-9), k
    # contract shape: 3 cat rows + 5 cont rows per (window x strat)
    n_groups = len({(r["window_start"], r["event_type"]) for r in batch.values()})
    assert len(batch) == n_groups * 8


def test_streaming_tableone_weighted_equals_replicated(spark, events):
    """Frequency-weight pin, streaming edition: integer weights must
    reproduce the unweighted table on a row-replicated frame — and the
    weighted variant must run as a REAL streaming query too."""
    from tableone_pyspark_spark.streaming.stream_stats import (
        streaming_tableone,
    )

    def prep(df):
        return df.select("ts", "event_type", "user_id", "value").withColumn(
            "seg", (F.col("user_id") % 3).cast("string")
        ).withColumn("w", (F.col("user_id") % 4 + 1).cast("double"))

    kw = dict(
        strat_col="event_type",
        cont_vars=["value"],
        cat_vars={"seg": ["0", "1", "2"]},
        window="1 day",
    )
    weighted = {
        (r["window_start"], r["event_type"], r["Index"], r["Values"]): r
        for r in streaming_tableone(prep(events), weight_col="w", **kw).collect()
    }
    replicated = prep(events).withColumn(
        "__r", F.explode(F.array_repeat(F.lit(1), F.col("w").cast("int")))
    )
    plain = {
        (r["window_start"], r["event_type"], r["Index"], r["Values"]): r
        for r in streaming_tableone(replicated, **kw).collect()
    }
    assert weighted.keys() == plain.keys() and len(weighted) > 0
    for k in weighted:
        # melt rounds to 6 decimals; weighted vs replicated sums can
        # differ by ~1e-12 pre-round and land across a boundary ->
        # allow one ulp at the 6th decimal
        assert approx(weighted[k]["value"], plain[k]["value"], tol=2e-6), k
        assert approx(weighted[k]["frac"], plain[k]["frac"], tol=2e-6), k

    # real streaming execution agrees with the batch run
    out = streaming_tableone(prep(events_stream(spark, SF)), weight_col="w", **kw)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("t_stream_t1_w")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["window_start"], r["event_type"], r["Index"], r["Values"]): r
        for r in spark.table("t_stream_t1_w").collect()
    }
    assert streamed.keys() == weighted.keys()
    for k in weighted:
        assert approx(streamed[k]["value"], weighted[k]["value"], tol=1e-9), k

    # honest boundary: weighted quartiles are refused
    import pytest

    with pytest.raises(ValueError, match="quartiles with weight_col"):
        streaming_tableone(prep(events), weight_col="w", quartiles=True, **kw)


def test_streaming_tableone_out_of_list_goes_to_missing(spark):
    """Non-null values OUTSIDE the declared category list must land in
    the catch-all `missing` bucket (not vanish): counts partition the
    group and fractions sum to 1."""
    from tableone_pyspark_spark.streaming.stream_stats import (
        streaming_tableone,
    )

    rows = [
        ("2024-01-01 00:10:00", "click", "a", 1.0),
        ("2024-01-01 00:20:00", "click", "b", 2.0),
        ("2024-01-01 00:30:00", "click", "ROGUE", 3.0),  # out-of-list
        ("2024-01-01 00:40:00", "click", None, 4.0),     # NULL
    ]
    df = spark.createDataFrame(
        rows, "ts string, event_type string, seg string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = streaming_tableone(
        df,
        "event_type",
        cont_vars=["value"],
        cat_vars={"seg": ["a", "b", "MISSING"]},
        window="1 day",
    ).collect()
    cats = {r["Values"]: r for r in out if r["Variable_type"] == "category"}
    assert cats["a"]["value"] == 1.0
    assert cats["b"]["value"] == 1.0
    # ROGUE + NULL both fold into MISSING
    assert cats["MISSING"]["value"] == 2.0
    assert abs(sum(r["frac"] for r in cats.values()) - 1.0) < 1e-9


def test_streaming_bloom_dedup_fixed_state(spark, tmp_path):
    """Bounded-state-forever streaming novelty: two micro-batches over
    a sharded Bloom state; batch-2 duplicates of batch-1 keys must
    probe seen (state persisted across batches), every verdict must
    match a pure-Python replay of the exact KM bit arithmetic, and
    false negatives are impossible by construction."""
    import pandas as pd

    from tableone_pyspark_spark.operators.bloom import km_positions_py, poly_hash_py
    from tableone_pyspark_spark.streaming.stream_stats import (
        streaming_bloom_dedup,
    )

    m_bits, n_hashes, n_shards = 1 << 12, 5, 4
    base = [f"doc-{i:04d}" for i in range(120)]
    b1 = base[:80] + base[:10]           # batch 1: 80 keys + 10 in-batch dups
    b2 = base[40:120] + base[:5]         # batch 2: 40 repeats, 40 new, 5 old
    t0 = 1_700_000_000
    d1 = spark.createDataFrame(
        [(k, i) for i, k in enumerate(b1)], "key string, off long"
    ).select("key", F.timestamp_seconds(F.lit(t0) + F.col("off")).alias("ts"))
    d2 = spark.createDataFrame(
        [(k, i) for i, k in enumerate(b2)], "key string, off long"
    ).select("key", F.timestamp_seconds(F.lit(t0 + 10_000) + F.col("off")).alias("ts"))
    p = str(tmp_path / "bloomstream")
    d1.coalesce(1).write.mode("overwrite").parquet(p)
    d2.coalesce(1).write.mode("append").parquet(p)

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .format("parquet")
        .load(p)
    )
    out = streaming_bloom_dedup(
        stream, "key", m_bits=m_bits, n_hashes=n_hashes, n_shards=n_shards
    )
    assert out.isStreaming
    qry = (
        out.writeStream.format("memory")
        .queryName("t_bloom_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qry.awaitTermination()
    got = [
        (r["key"], r["maybe_seen"])
        for r in spark.table("t_bloom_stream").collect()
    ]
    assert len(got) == len(b1) + len(b2)

    # pure-Python replay: same shard hash, same per-batch (ts, key)
    # order, same KM bits — verdicts must match EXACTLY
    def replay(batches):
        lanes = {s: [0] * (m_bits // 64) for s in range(n_shards)}
        verdicts = {}
        for rows in batches:
            per_shard = {}
            for i, k in enumerate(rows):
                per_shard.setdefault(poly_hash_py(k) % n_shards, []).append((i, k))
            for s, items in per_shard.items():
                for _, k in sorted(items, key=lambda x: (x[0], x[1])):
                    ps = km_positions_py(k, m_bits, n_hashes)
                    seen = all((lanes[s][p >> 6] >> (p & 63)) & 1 for p in ps)
                    if not seen:
                        for p in ps:
                            lanes[s][p >> 6] |= 1 << (p & 63)
                    verdicts.setdefault(k, []).append(seen)
        return verdicts

    exp = replay([b1, b2])
    got_by_key = {}
    for k, seen in got:
        got_by_key.setdefault(k, []).append(seen)
    # per key, the multiset of verdicts matches (order across batches
    # is fixed by state evolution; within a batch a key's first
    # occurrence is new and the rest seen)
    for k in exp:
        assert sorted(got_by_key[k]) == sorted(exp[k]), k

    # no false negatives: every key already inserted in batch 1 that
    # reappears in batch 2 MUST flag seen on the reappearance
    b1_inserted = set(b1)
    for k in set(b2) & b1_inserted:
        assert any(got_by_key[k]), k
    # within-batch duplicates: second occurrence flags seen
    for k in base[:10]:
        assert got_by_key[k].count(True) >= 1

    # validation
    import pytest as _pytest
    with _pytest.raises(ValueError, match="power of two"):
        streaming_bloom_dedup(stream, "key", m_bits=100)


def test_streaming_drift_psi(spark):
    """streaming_drift: batch twin pinned against a numpy PSI replay,
    real availableNow streaming run, drift ordering (a shifted
    distribution scores higher than the reference's own window), and
    validation errors."""
    import math

    import numpy as np

    from tableone_pyspark_spark.streaming.stream_stats import streaming_drift

    edges = [2.0, 4.0, 6.0]                 # 4 bins
    q = [0.25, 0.25, 0.25, 0.25]

    # --- batch twin vs numpy ---------------------------------------
    vals = [0.5, 1.0, 3.0, 3.5, 5.0, 7.0, 9.0, 9.5, None]
    rows = [(f"2024-01-01 00:00:{i:02d}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    got = streaming_drift(df, "value", edges, q, window="1 hour").collect()
    assert len(got) == 1
    r = got[0]
    clean = [v for v in vals if v is not None]
    assert r["n"] == len(clean)
    counts = np.zeros(4)
    for v in clean:
        b = 0 if v <= 2 else 1 if v <= 4 else 2 if v <= 6 else 3
        counts[b] += 1
    p = counts / counts.sum()
    eps = 1e-6
    psi = sum(
        (p[i] - q[i]) * math.log((p[i] + eps) / (q[i] + eps)) for i in range(4)
    )
    assert r["psi"] == round(psi, 6) and r["psi"] > 0

    # matching distribution → psi ~ 0 (and strictly below the drifted)
    match_rows = [
        (f"2024-01-01 01:00:{i:02d}", v)
        for i, v in enumerate([1.0, 3.0, 5.0, 7.0] * 3)
    ]
    df2 = spark.createDataFrame(match_rows, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    flat = streaming_drift(df2, "value", edges, q, window="1 hour").collect()[0]
    assert abs(flat["psi"]) < 1e-4 < r["psi"]

    # --- real streaming run over the events table ------------------
    stream = events_stream(spark, SF).select("ts", "value")
    out = streaming_drift(
        stream, "value", edges, q, window="6 hours", watermark="0 seconds"
    )
    qry = (
        out.writeStream.format("memory")
        .queryName("drift_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qry.awaitTermination()
    sunk = spark.table("drift_sink").collect()
    assert len(sunk) >= 1
    # batch twin over the same data must agree exactly, window by window
    batch = {
        r["window_start"]: (r["n"], r["psi"])
        for r in streaming_drift(
            load_events(spark, SF).select("ts", "value"),
            "value", edges, q, window="6 hours",
        ).collect()
    }
    for r in sunk:
        assert batch[r["window_start"]] == (r["n"], r["psi"])

    # --- validation -------------------------------------------------
    import pytest as _pytest
    with _pytest.raises(ValueError, match="interior edges"):
        streaming_drift(df, "value", [1.0], [0.5, 0.3, 0.2])
    with _pytest.raises(ValueError, match="non-decreasing"):
        streaming_drift(df, "value", [3.0, 1.0, 2.0], q)
    with _pytest.raises(ValueError, match="positive"):
        streaming_drift(df, "value", edges, [0.0, 0.0, 0.0, 0.0])
    with _pytest.raises(ValueError, match="at least 2"):
        streaming_drift(df, "value", [], [1.0])


def test_streaming_drift_excludes_nan(spark):
    from tableone_pyspark_spark.streaming.stream_stats import streaming_drift

    rows = [
        ("2024-01-01 00:00:01", 1.0),
        ("2024-01-01 00:00:02", float("nan")),
        ("2024-01-01 00:00:03", 7.0),
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    r = streaming_drift(df, "value", [2.0, 4.0, 6.0], [0.25] * 4, window="1 hour").collect()[0]
    assert r["n"] == 2  # NaN excluded like NULL, not binned


def test_streaming_cms_counts_fixed_state(spark, tmp_path):
    """Streaming Count-Min frequency tracking (X100): two micro-batches
    over sharded sketch state — running estimates persist across
    batches, every (key, est) emission matches a pure-Python replay of
    the exact slot arithmetic, per-key FINAL estimates equal the batch
    build_cms estimates on the union (same hash family), and estimates
    are exact here because the key set is collision-free at this
    geometry."""
    import pandas as pd

    from pyspark.sql import functions as F

    from tableone_pyspark_spark.operators.bloom import poly_hash_py
    from tableone_pyspark_spark.operators.sketches import (
        build_cms,
        cms_estimate,
        cms_positions_py,
    )
    from tableone_pyspark_spark.streaming.stream_stats import streaming_cms_counts

    width, depth, n_shards = 512, 4, 4
    base = [f"user-{i:03d}" for i in range(40)]
    b1 = base[:30] + base[:15]            # batch 1: 15 keys twice
    b2 = base[20:40] + base[:10] * 2      # batch 2: repeats + new
    t0 = 1_700_000_000
    d1 = spark.createDataFrame(
        [(k, i) for i, k in enumerate(b1)], "key string, off long"
    ).select("key", F.timestamp_seconds(F.lit(t0) + F.col("off")).alias("ts"))
    d2 = spark.createDataFrame(
        [(k, i) for i, k in enumerate(b2)], "key string, off long"
    ).select("key", F.timestamp_seconds(F.lit(t0 + 10_000) + F.col("off")).alias("ts"))
    p = str(tmp_path / "cmsstream")
    d1.coalesce(1).write.mode("overwrite").parquet(p)
    d2.coalesce(1).write.mode("append").parquet(p)

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(p)
    )
    out = streaming_cms_counts(
        stream, "key", width=width, depth=depth, n_shards=n_shards
    )
    assert out.isStreaming
    qry = (
        out.writeStream.format("memory")
        .queryName("t_cms_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qry.awaitTermination()
    got = sorted(
        (r["key"], r["est"]) for r in spark.table("t_cms_stream").collect()
    )
    assert len(got) == len(b1) + len(b2)

    # pure-Python replay: same shard hash, same per-batch (ts, key)
    # order, the SHARED slot twin — emissions must match EXACTLY
    counts = {s: [0] * (depth * width) for s in range(n_shards)}
    replay = []
    for batch, start in ((b1, t0), (b2, t0 + 10_000)):
        ordered = sorted((start + i, k) for i, k in enumerate(batch))
        for _ts, k in ordered:
            shard = poly_hash_py(k) % n_shards
            slots = cms_positions_py(k, width, depth)
            for s in slots:
                counts[shard][s] += 1
            replay.append((k, min(counts[shard][s] for s in slots)))
    assert got == sorted(replay)

    # final per-key estimate == true total count (collision-free at
    # this geometry) == the BATCH sketch family's estimate on the union
    rows = b1 + b2
    true = pd.Series(rows).value_counts().to_dict()
    finals = {}
    for k, est in got:
        finals[k] = max(finals.get(k, 0), est)
    assert finals == true
    union = spark.createDataFrame([(k,) for k in rows], "key string")
    # per-shard streaming sketches sum to the batch sketch, so the
    # batch estimates agree with the final streaming estimates here
    sk = build_cms(union, "key", width=width, depth=depth)
    batch_est = {
        r["key"]: r["est"] for r in cms_estimate(sk, union, "key").collect()
    }
    assert batch_est == finals

    # validation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="width"):
        streaming_cms_counts(stream, "key", width=1)


def test_streaming_heavy_hitters_cms_candidates(spark, tmp_path):
    """X109 streaming φ-heavy-hitters: two micro-batches over sharded
    CMS + bounded-candidate state — every truly-heavy key is present
    with a one-sided estimate, light keys are pruned, snapshots
    refresh across batches, and the final emission matches a
    pure-Python replay of the fold (same (ts, key) order, same
    eviction rule)."""
    import collections

    import pandas as pd

    from pyspark.sql import functions as F

    from tableone_pyspark_spark.operators.bloom import poly_hash_py
    from tableone_pyspark_spark.operators.sketches import cms_positions_py
    from tableone_pyspark_spark.streaming.stream_stats import (
        streaming_heavy_hitters,
    )

    width, depth, n_shards, phi = 512, 4, 4, 0.1
    # batch 1: 'hot-a' x 30, 'hot-b' x 15, 40 singletons
    # batch 2: 'hot-b' x 25 more (rises), 'hot-a' x 2, 40 new singletons
    b1 = ["hot-a"] * 30 + ["hot-b"] * 15 + [f"cold-{i}" for i in range(40)]
    b2 = ["hot-b"] * 25 + ["hot-a"] * 2 + [f"late-{i}" for i in range(40)]
    t0 = 1_700_000_000
    d1 = spark.createDataFrame(
        [(k, i) for i, k in enumerate(b1)], "key string, off long"
    ).select("key", F.timestamp_seconds(F.lit(t0) + F.col("off")).alias("ts"))
    d2 = spark.createDataFrame(
        [(k, i) for i, k in enumerate(b2)], "key string, off long"
    ).select("key", F.timestamp_seconds(F.lit(t0 + 10_000) + F.col("off")).alias("ts"))
    p = str(tmp_path / "hhstream")
    d1.coalesce(1).write.mode("overwrite").parquet(p)
    d2.coalesce(1).write.mode("append").parquet(p)

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(p)
    )
    out = streaming_heavy_hitters(
        stream, "key", phi=phi, width=width, depth=depth, n_shards=n_shards
    )
    assert out.isStreaming
    qry = (
        out.writeStream.format("memory")
        .queryName("t_hh_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qry.awaitTermination()
    rows = spark.table("t_hh_stream").collect()

    # pure-Python twin: replay both batches through the same fold
    def shard_of(k):
        return poly_hash_py(k) % n_shards

    state = {}
    emissions = []
    for batch in (b1, b2):
        per_shard = collections.defaultdict(list)
        for i, k in enumerate(batch):
            per_shard[shard_of(k)].append((i, k))  # ts ascends with i
        for sh, items in per_shard.items():
            counts, n, cand = state.get(sh, ([0] * (depth * width), 0, set()))
            items.sort()  # (ts-offset, key) == the fold's sort
            def fresh(k):
                return min(counts[s] for s in cms_positions_py(k, width, depth))
            for _, k in items:
                for s in cms_positions_py(k, width, depth):
                    counts[s] += 1
                n += 1
                if fresh(k) >= phi * n:
                    cand.add(k)
                    if len(cand) > max(8, int(2.0 / phi)):
                        cand.discard(min(cand, key=lambda c: (fresh(c), c)))
            keep = sorted(k for k in cand if fresh(k) >= phi * n)
            state[sh] = (counts, n, set(keep))
            for k in keep:
                emissions.append((sh, k, fresh(k), n))
    assert sorted(
        (r["shard"], r["key"], r["est"], r["shard_rows"]) for r in rows
    ) == sorted(emissions)
    # the documented consumer recipe is computable from emissions
    # alone: each shard's LATEST shard_rows is its row count at its
    # last emission — a LOWER bound on its true count (a shard silent
    # in later batches reports stale n), so the phi threshold errs
    # toward inclusion, the safe direction
    latest_n = {}
    for r in rows:
        latest_n[r["shard"]] = max(latest_n.get(r["shard"], 0), r["shard_rows"])
    true_shard_rows = collections.Counter(shard_of(k) for k in b1 + b2)
    for sh, n in latest_n.items():
        assert 0 < n <= true_shard_rows[sh]
    assert sum(latest_n.values()) <= len(b1 + b2)
    # semantic checks on the FINAL snapshot (latest per key)
    final = {}
    for r in rows:
        final[r["key"]] = max(final.get(r["key"], 0), r["est"])
    true = collections.Counter(b1 + b2)
    for k in ("hot-a", "hot-b"):
        assert k in final and final[k] >= true[k]  # one-sided, present
    # validation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="phi"):
        streaming_heavy_hitters(stream, "key", phi=1.5)

