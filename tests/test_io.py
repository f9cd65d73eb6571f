"""read_table/write_table: format round-trips, partitioned layout with
pruning, single-file sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tableone_pyspark_spark.sources.io import read_table, write_table


def _nation(spark):
    return spark.read.parquet("/root/testdata/sf0.001/nation.parquet")


def test_roundtrip_formats(spark, tmp_path):
    n = _nation(spark)
    for fmt in ("parquet", "csv", "json", "orc"):
        p = str(tmp_path / fmt)
        write_table(n, p, fmt=fmt)
        back = read_table(spark, p, fmt=fmt, schema=n.schema)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_partitioned_write_prunes(spark, tmp_path):
    n = _nation(spark)
    p = str(tmp_path / "part")
    write_table(n, p, partition_by=["n_regionkey"])
    # hive-style layout on disk
    assert any(d.startswith("n_regionkey=") for d in os.listdir(p))
    back = read_table(spark, p).where(F.col("n_regionkey") == 1)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filter reaches the scan (pruning, not a post-filter)
    assert "PartitionFilters" in plan and "n_regionkey" in plan.split("PartitionFilters")[1][:200]
    assert back.count() == n.where(F.col("n_regionkey") == 1).count()


def test_single_file_sink(spark, tmp_path):
    n = _nation(spark)
    p = str(tmp_path / "single")
    write_table(n, p, single_file=True)
    files = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert len(files) == 1


def test_bad_format_rejected(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        read_table(spark, "/tmp/x", fmt="avro")
    with pytest.raises(ValueError):
        write_table(_nation(spark), str(tmp_path / "x"), fmt="xml")


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge-join with no
    Exchange on either side (the write-time shuffle is amortized)."""
    from tableone_pyspark_spark.sources.io import write_bucketed

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_bucketed(orders, "t_bk_orders", str(tmp_path / "o"), ["o_orderkey"], 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_bk_lineitem", str(tmp_path / "l"), ["o_orderkey"], 8,
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bk_orders").join(spark.table("t_bk_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bk_orders")
        spark.sql("DROP TABLE IF EXISTS t_bk_lineitem")


def test_zorder_write_narrow_file_rectangles(spark, tmp_path):
    import pyarrow.parquet as pq
    from pathlib import Path

    from tableone_pyspark_spark.sources.io import write_zordered

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    out = str(tmp_path / "zorder")
    write_zordered(li, out, ["l_orderkey", "l_partkey"], n_files=8)

    files = sorted(Path(out).glob("*.parquet"))
    assert len(files) >= 4
    total = 0
    ranges = {"l_orderkey": [], "l_partkey": []}
    for f in files:
        md = pq.read_metadata(str(f))
        total += md.num_rows
        if md.num_rows == 0:
            continue
        sch = pq.read_schema(str(f))
        for col in ranges:
            idx = sch.names.index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min); maxs.append(st.max)
            ranges[col].append(max(maxs) - min(mins))
    assert total == li.count()  # layout is a permutation, no loss
    # each file's rectangle must be materially narrower than the global
    # range in BOTH interleaved dimensions (a single-column sort would
    # leave the second dimension at ~full width in every file)
    for col, spans in ranges.items():
        stats = li.agg(
            F.min(col).alias("mn"), F.max(col).alias("mx")
        ).first()
        global_span = stats["mx"] - stats["mn"]
        avg_span = sum(spans) / len(spans)
        assert avg_span < 0.6 * global_span, (col, avg_span, global_span)


def test_zorder_bits_guard_auto_shrinks(spark):
    """bits*len(cols) > 63 must not wrap shiftleft mod 64 (ADVICE r3):
    the guard shrinks bits and warns, and the key stays non-negative."""
    import warnings

    from tableone_pyspark_spark.sources.io import zorder_value

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).limit(1000)
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_tax"]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        z = zorder_value(li, cols, bits=16)  # 16*5=80 > 63
        assert any("shrinking" in str(w.message) for w in caught)
    mn = li.select(F.min(z).alias("mn")).first()["mn"]
    assert mn >= 0  # sign bit never set

    import pytest

    with pytest.raises(ValueError):
        zorder_value(li, [], bits=8)


def test_zorder_string_and_date_columns(spark, tmp_path):
    """r15 — zorder_by on non-numeric columns (the Delta/Iceberg
    surface): strings ride an order-preserving 6-byte-prefix
    encoding, dates ride days-since-epoch; each output file then
    spans a narrow range in BOTH columns and a prefix-range read
    skips files. Unsupported types raise instead of scrambling."""
    import pytest

    from pyspark.sql import functions as F

    from tableone_pyspark_spark.sources.io import (
        _zorder_numeric,
        parquet_column_ranges,
        write_zordered,
        zorder_value,
    )

    orders = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    )
    out = str(tmp_path / "z_str_date")
    write_zordered(
        orders, out, ["o_orderpriority", "o_orderdate"], n_files=8
    )
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # each file's o_orderpriority range must be narrow: with 5
    # priority values over 8 files, every file should span far fewer
    # than all 5 distinct values at its (min, max) endpoints
    rng = parquet_column_ranges(out, ["o_orderpriority"])
    assert rng and all(r["o_orderpriority"][0] is not None for r in rng)
    # 8 files over 2 interleaved dimensions fix the priority MSB per
    # file, so the TYPICAL file spans ~half of the 5 priority values
    # (an arrival-order write spans all 5 in every file = total 32);
    # range-sampled z boundaries may let a straddler or two span more
    spans = [
        int(r["o_orderpriority"][1][0]) - int(r["o_orderpriority"][0][0])
        for r in rng
    ]
    assert sum(spans) <= 2.5 * len(rng), (spans, rng)

    # the string proxy is MONOTONE w.r.t. string order (6-byte ties
    # allowed): check on the distinct priorities
    vals = [
        r[0] for r in orders.select("o_orderpriority").distinct().collect()
    ]
    enc = {
        r["o_orderpriority"]: r["e"]
        for r in orders.select("o_orderpriority")
        .distinct()
        .withColumn("e", _zorder_numeric(orders, "o_orderpriority"))
        .collect()
    }
    for a in vals:
        for b in vals:
            if a[:6] < b[:6]:
                assert enc[a] < enc[b], (a, b, enc)

    with pytest.raises(ValueError, match="supported"):
        zorder_value(
            orders.withColumn("arr", F.array(F.lit(1))), ["arr"]
        )


def test_optimize_zorder_string_column_prunes(spark, tmp_path):
    """r15 — OPTIMIZE ... ZORDER BY a STRING column on a versioned
    table: stats recorded on the rewrite actually skip files for an
    equality prune on the string column."""
    from pyspark.sql import functions as F

    from tableone_pyspark_spark.sources import tablelog as tl

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    t = str(tmp_path / "z_tbl")
    tl.commit(
        spark,
        orders.select("o_orderkey", "o_orderpriority").repartition(4),
        t,
        stats_cols=["o_orderpriority"],
    )
    opt = tl.optimize(
        spark, t, target_bytes=4096, zorder_by=["o_orderpriority"]
    )
    assert opt["n_output_files"] >= 2, opt
    pruned = tl.read_version(
        spark, t, prune=[("o_orderpriority", "=", "1-URGENT")]
    )
    n_read = pruned.select(F.input_file_name()).distinct().count()
    assert n_read < opt["n_output_files"], (n_read, opt)
    # skipping lost nothing
    assert (
        pruned.where(F.col("o_orderpriority") == "1-URGENT").count()
        == orders.where(F.col("o_orderpriority") == "1-URGENT").count()
    )


def _hilbert_twin(coords, bits):
    """Pure-python Skilling axes-to-transpose + MSB interleave — the
    published algorithm, used as the differential oracle."""
    X = list(coords)
    n = len(X)
    q = 1 << (bits - 1)
    while q > 1:
        p = q - 1
        for i in range(n):
            if X[i] & q:
                X[0] ^= p
            else:
                t = (X[0] ^ X[i]) & p
                X[0] ^= t
                X[i] ^= t
        q >>= 1
    for i in range(1, n):
        X[i] ^= X[i - 1]
    t = 0
    q = 1 << (bits - 1)
    while q > 1:
        if X[n - 1] & q:
            t ^= q - 1
        q >>= 1
    for i in range(n):
        X[i] ^= t
    h = 0
    for qq in range(bits - 1, -1, -1):
        for i in range(n):
            h = (h << 1) | ((X[i] >> qq) & 1)
    return h


def test_hilbert_numpy_kernel_matches_twin_at_production_width():
    """r17 — the vectorized NumPy kernel behind hilbert_frame (the
    chained-projection replacement) is bit-identical to the published
    Skilling twin at PRODUCTION width (bits=10) in 2-D and 3-D, on
    deterministic pseudo-random coordinates including the corners."""
    import numpy as np
    import pandas as pd

    from tableone_pyspark_spark.sources.io import _hilbert_index_batch

    rng = np.random.default_rng(20260817)
    for n, bits in ((2, 10), (3, 10), (2, 3), (1, 10)):
        side = 1 << bits
        coords = rng.integers(0, side, size=(4096, n), dtype=np.int64)
        corners = np.array(
            [[0] * n, [side - 1] * n, [0] + [side - 1] * (n - 1)],
            dtype=np.int64,
        )
        coords = np.vstack([coords, corners])
        axes = [pd.Series(coords[:, i]) for i in range(n)]
        got = _hilbert_index_batch(axes, bits).to_numpy()
        want = np.array(
            [_hilbert_twin(list(row), bits) for row in coords],
            dtype=np.int64,
        )
        assert (got == want).all(), (n, bits)


def test_hilbert_frame_matches_twin_and_is_bijective(spark):
    """r15 — the Catalyst Hilbert transform equals the published
    Skilling algorithm cell-for-cell (2-D and 3-D grids), after the
    SAME float range-scaling both sides; the index is bijective on
    the full grid (a Hilbert curve visits every cell once)."""
    import itertools
    import math

    from tableone_pyspark_spark.sources.io import hilbert_frame

    for n, bits in ((2, 3), (3, 2)):
        side = 1 << bits
        grid = list(itertools.product(range(side), repeat=n))
        cols = [f"c{i}" for i in range(n)]
        df = spark.createDataFrame(
            grid, ", ".join(f"{c} long" for c in cols)
        )
        got = {
            tuple(r[c] for c in cols): r["__h"]
            for r in hilbert_frame(df, cols, bits=bits).collect()
        }
        top = side - 1

        def scale(v):  # the exact float path _scaled_axes takes
            return min(top, max(0, math.floor(v / top * top)))

        want = {
            g: _hilbert_twin([scale(v) for v in g], bits) for g in grid
        }
        assert got == want
        # bijective over the cells the scaling actually hits
        assert len(set(want.values())) == len(set(map(
            lambda g: tuple(scale(v) for v in g), grid
        )))


def test_hilbert_layout_tighter_than_arrival(spark, tmp_path):
    """r15 — write_hilbert_clustered: each output file spans a narrow
    rectangle in BOTH cluster columns (the write-layout contract the
    z-order test pins, on the Hilbert curve)."""
    from pyspark.sql import functions as F

    from tableone_pyspark_spark.sources.io import (
        parquet_column_ranges,
        write_hilbert_clustered,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = str(tmp_path / "hilbert")
    write_hilbert_clustered(
        orders, out, ["o_orderkey", "o_custkey"], n_files=8
    )
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)  # __h dropped
    rng = parquet_column_ranges(out, ["o_orderkey", "o_custkey"])
    full_k = orders.agg(
        F.max("o_orderkey") - F.min("o_orderkey")
    ).first()[0]
    spans = [
        (r["o_orderkey"][1] - r["o_orderkey"][0]) / full_k for r in rng
    ]
    # an arrival-order write spans ~the full key range in every file;
    # 8 hilbert files over 2 dims must average well under half
    assert sum(spans) / len(spans) < 0.6, spans

    import pytest

    with pytest.raises(ValueError, match="collide"):
        write_hilbert_clustered(
            orders.withColumn("__h", F.lit(1)), out,
            ["o_orderkey", "o_custkey"],
        )


def test_hilbert_key_filter_and_range_prune(spark, tmp_path):
    """r16 — the r15 OOM, pinned fixed: a predicate on hilbert_frame's
    output must NOT let PushPredicateThroughNonJoin re-inline the
    projection chain (the once_long fence blocks the descent), and the
    persisted key must range-prune files on read."""
    from pyspark.sql import functions as F

    from tableone_pyspark_spark.sources.io import (
        hilbert_frame,
        parquet_column_ranges,
        write_hilbert_clustered,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    # in-memory filter on the chain output at FULL production width
    # (bits=10, 2 dims = 20 chain stages) — this OOM'd the driver pre-fix
    h = hilbert_frame(orders, ["o_orderkey", "o_custkey"], bits=10)
    assert h.where(F.col("__h") < 0).count() == 0
    med = h.approxQuantile("__h", [0.5], 0.01)[0]
    lo = h.where(F.col("__h") <= med).count()
    assert 0 < lo < orders.count()
    # the fence is an exact identity: recomputing __h gives the same key
    again = hilbert_frame(orders, ["o_orderkey", "o_custkey"], bits=10)
    assert h.select("o_orderkey", "__h").exceptAll(
        again.select("o_orderkey", "__h")
    ).count() == 0
    # persisted key: disjoint per-file ranges -> a key-range predicate
    # prunes most files (the read-side data-skipping contract)
    out = str(tmp_path / "hkey")
    write_hilbert_clustered(
        orders, out, ["o_orderkey", "o_custkey"], n_files=8, keep_key=True
    )
    rng = parquet_column_ranges(out, ["__h"])
    assert len(rng) == 8
    lo_files = [r for r in rng if r["__h"][0] <= med]
    hit = [r for r in rng if r["__h"][0] <= med <= r["__h"][1]]
    assert len(hit) <= 2  # ranges ~disjoint: a point straddles <=2 files
    back = spark.read.parquet(out).where(F.col("__h") <= F.lit(med))
    assert back.count() == lo
    # Spark's scan must push the key predicate to parquet
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "__h" in plan.split(
        "PushedFilters"
    )[1][:200]
    assert len(lo_files) < 8  # some files are entirely out of range


def test_cluster_layouts_handle_nulls_and_mixed_types(spark, tmp_path):
    """r15 edge pins: an all-NULL column scales to bucket 0 (no crash,
    no row loss) and the proxies compose across mixed types for BOTH
    curves."""
    from pyspark.sql import functions as F

    from tableone_pyspark_spark.sources.io import (
        hilbert_frame,
        write_hilbert_clustered,
        write_zordered,
        zorder_value,
    )

    df = (
        spark.range(200)
        .select(
            F.col("id").alias("k"),
            F.lit(None).cast("double").alias("allnull"),
            F.concat(F.lit("s"), (F.col("id") % 7)).alias("s"),
            F.date_add(F.lit("2020-01-01"), (F.col("id") % 90)
                       .cast("int")).alias("d"),
        )
    )
    # all-null column: both curves produce a non-negative key, all rows
    z = df.withColumn("z", zorder_value(df, ["k", "allnull"], bits=8))
    assert z.where(F.col("z") < 0).count() == 0 and z.count() == 200
    h = hilbert_frame(df, ["k", "allnull"], bits=8)
    assert h.where(F.col("__h") < 0).count() == 0 and h.count() == 200
    # mixed numeric + string + date, written end-to-end, no loss
    for writer, name in (
        (write_zordered, "z_mixed"),
        (write_hilbert_clustered, "h_mixed"),
    ):
        out = str(tmp_path / name)
        writer(df, out, ["k", "s", "d"], n_files=4)
        assert spark.read.parquet(out).count() == 200
