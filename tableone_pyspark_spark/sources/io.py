"""General source/sink surface.

The reference never reads or writes files (its only source is a
caller-provided DataFrame — /root/reference/tableone_pyspark.py:20 —
and its only sink is the returned DataFrame); real pipelines need
typed, pruned, partition-aware IO, so this module provides it:

  * read_table  — parquet / csv / json with explicit schema support
    (schema inference is a full extra pass over csv/json at scale;
    always pass one in production).
  * write_table — partitioned writes (``partition_by`` enables
    partition pruning for downstream readers), bounded file sizes via
    ``maxRecordsPerFile``, and an opt-in ``single_file`` mode that
    coalesces at the SINK only (never mid-plan — a mid-plan
    coalesce(1) would serialize upstream stages, the reference's
    repartition(1) mistake at 13 sites, SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_FORMATS = ("parquet", "csv", "json", "orc")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Read ``path`` as ``fmt``. csv defaults to header=true.

    Column pruning and predicate pushdown reach the scan for
    parquet/orc automatically; for csv/json only column pruning
    applies, which is why columnar formats are the scale default.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; use one of {_FORMATS}")
    reader = spark.read
    if fmt == "csv":
        options.setdefault("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        # inference is an extra full scan — acceptable for small files,
        # pathological at scale; surface it rather than hiding it
        options.setdefault("inferSchema", "true")
    return reader.options(**options).format(fmt).load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int = 0,
    single_file: bool = False,
    **options,
) -> None:
    """Write ``df`` to ``path`` as ``fmt``.

    ``partition_by`` lays the data out hive-style so downstream readers
    prune partitions; ``max_records_per_file`` bounds output file size
    without a shuffle; ``single_file`` coalesces to one output file —
    only sensible for small results (a TableOne output, a report), and
    applied at the sink so upstream parallelism is untouched.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; use one of {_FORMATS}")
    if single_file:
        df = df.coalesce(1)
    writer = df.write.mode(mode)
    if fmt == "csv":
        options.setdefault("header", "true")
    if max_records_per_file:
        options["maxRecordsPerFile"] = str(max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.options(**options).format(fmt).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed+sorted parquet table (external, at
    ``path``) registered as ``table`` in the session catalog.

    Bucketing pre-shuffles ONCE at write time: two tables bucketed on
    the same key with the same bucket count join with NO exchange and
    (sorted buckets) no sort — the shuffle that dominates repeated
    large-table joins is paid a single time and amortized over every
    subsequent join/aggregation on that key. This is the co-location
    strategy for 100 TB fact-fact joins; verified shuffle-free by test.
    """
    (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def _zorder_numeric(df: DataFrame, c: str):
    """An order-preserving DOUBLE proxy for a z-order column (r15 —
    non-numeric zorder_by, the Delta/Iceberg surface):

    * numeric      : plain double cast (exact for the scaling step)
    * date         : days since epoch
    * timestamp    : epoch seconds (fractional kept)
    * string       : the first 6 UTF-8 bytes as a big-endian integer,
      ZERO-PADDED on the right to exactly 6 bytes (a shorter string
      must not encode smaller than a longer one it precedes — the
      hex rpad IS the 0x00-byte pad, and 0x00 sorts below every real
      byte exactly like the missing suffix does in string order) —
      lexicographically MONOTONE and exact in a double (2^48 < 2^53);
      strings sharing a 6-byte prefix tie, which costs layout
      locality, never correctness (ties land adjacent after scaling).
      NULLs map to -1, below every real value.

    Anything else (arrays, maps, structs, binary) raises — a silent
    NULL cast would scramble the layout."""
    from pyspark.sql import functions as F

    t = df.schema[c].dataType.simpleString()
    if t == "date":
        return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
    if t.startswith("timestamp"):
        # cast, not unix_timestamp — the latter truncates to whole
        # seconds and collapses sub-second event density to z ties
        # (review r15); the double cast keeps fractional seconds
        return F.col(c).cast("double")
    if t == "string":
        return F.coalesce(
            F.conv(
                F.rpad(
                    F.hex(F.substring(F.encode(F.col(c), "UTF-8"), 1, 6)),
                    12,
                    "0",
                ),
                16,
                10,
            ).cast("double"),
            F.lit(-1.0),
        )
    if t in (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    ) or t.startswith("decimal"):
        return F.col(c).cast("double")
    raise ValueError(
        f"zorder column {c!r} has type {t} — supported: numeric, "
        "string, date, timestamp"
    )


def _scaled_axes(df: DataFrame, cols: list[str], bits: int):
    """Each column as a ``bits``-bit fixed-point LONG in [0, 2^bits):
    the order-preserving proxy (:func:`_zorder_numeric`) range-scaled
    by one bounded min/max collect — shared by the Morton and Hilbert
    layouts. NULLs and all-null columns scale to bucket 0."""
    from pyspark.sql import functions as F

    proxies = {c: _zorder_numeric(df, c) for c in cols}
    aggs = []
    for c in cols:
        aggs += [
            F.min(proxies[c]).alias(f"mn_{c}"),
            F.max(proxies[c]).alias(f"mx_{c}"),
        ]
    row = df.agg(*aggs).first()
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        if mn is None or mx is None:
            # all-null column: every row scales to bucket 0
            mn, mx = 0.0, 0.0
        lo, hi = float(mn), float(mx)
        width = (hi - lo) or 1.0
        s = F.least(
            F.lit(top),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.coalesce(proxies[c], F.lit(lo)) - F.lit(lo))
                    / F.lit(width)
                    * top
                ),
            ),
        ).cast("long")
        scaled.append(s)
    return scaled


def zorder_value(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key over the listed columns as a pure-Catalyst
    expression: each column is mapped to an order-preserving double
    (:func:`_zorder_numeric` — numeric/string/date/timestamp), range-
    scaled to ``bits`` fixed-point bits (one bounded min/max collect),
    then bit-interleaved. Rows close in z are close in EVERY
    dimension, so range-partitioning by z gives each output file a
    narrow min/max rectangle across all ``cols`` at once — the
    multi-column data-skipping layout a single sort column cannot
    provide.

    ``bits * len(cols)`` must fit in the 63 value bits of a signed
    64-bit key: bit 63 is the sign (an interleave landing there breaks
    the z ordering), and ``shiftleft`` wraps its distance mod 64, which
    would silently scramble the interleave for wider requests. ``bits``
    is auto-shrunk to ``63 // len(cols)`` with a warning rather than
    producing a corrupt layout.
    """
    import warnings

    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("zorder_value needs at least one column")
    max_bits = 63 // len(cols)
    if bits > max_bits:
        warnings.warn(
            f"zorder bits={bits} x {len(cols)} cols exceeds the 63-bit "
            f"signed key; shrinking to bits={max_bits}",
            stacklevel=2,
        )
        bits = max_bits

    scaled = _scaled_axes(df, cols, bits)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(s, b).bitwiseAND(F.lit(1)), b * len(cols) + i
                )
            )
    return z


def hilbert_frame(
    df: DataFrame, cols: list[str], bits: int = 10, out: str = "__h"
):
    """``df`` plus a Hilbert-curve index column over ``cols`` (r15 —
    the layout behind Delta's liquid clustering and Databricks'
    OPTIMIZE ... BY HILBERT): each column range-scales to ``bits``
    fixed-point bits (:func:`_scaled_axes` — numeric/string/date/
    timestamp proxies), then Skilling's axes-to-transpose transform
    ("Programming the Hilbert curve", AIP 2004) maps the coordinate
    tuple to its Hilbert distance. Versus the Morton key, consecutive
    Hilbert cells are ALWAYS unit-distance neighbors (no quadrant
    jumps), so range-partitioned files span tighter rectangles —
    measurably better multi-column skipping at the same file count.

    The transform itself runs as ONE vectorized Arrow projection
    (r17 optimization, guide §4.2): the range-scaled int64 axes are
    computed by Catalyst expressions, shipped to a ``pandas_udf`` as
    Arrow batches, and the Skilling loop runs over whole NumPy int64
    arrays — pure integer bitwise ops, so the values are IDENTICAL to
    the previous chained-projection Catalyst build (pinned by
    ``tests/test_io.py`` against the pure-Python twin, and by a new
    direct chain-vs-NumPy differential). The previous build
    materialized one ``withColumns`` step per transform stage to stop
    exponential expression re-inlining; that cost ~22 sequential
    driver-side plan analyses (~4.7 s of pure plan construction per
    call at bits=10 × 2 cols, before any data moved) plus a 22-Project
    plan every optimizer pass had to walk. One opaque projection node
    removes both, and at scale hands the bit-twiddling to NumPy over
    whole batches instead of row-at-a-time codegen.

    The OPTIMIZER fence is retained unchanged (r16 contract): the
    ``out`` column is wrapped in :func:`~tableone_pyspark_spark.plans.
    fence.once_long`, so ``PushPredicateThroughNonJoin`` never
    substitutes the alias — filters on ANY column evaluate above this
    projection, exactly as before; filter/cluster BEFORE calling this
    on the write path (``write_hilbert_clustered`` does)."""
    import warnings

    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("hilbert_frame needs at least one column")
    n = len(cols)
    max_bits = 63 // n
    if bits > max_bits:
        warnings.warn(
            f"hilbert bits={bits} x {n} cols exceeds the 63-bit "
            f"signed key; shrinking to bits={max_bits}",
            stacklevel=2,
        )
        bits = max_bits
    names = [f"__hx{i}" for i in range(n)]
    clash = set(names + [out]) & set(df.columns)
    if clash:
        raise ValueError(
            f"columns {sorted(clash)} collide with the Hilbert "
            "internals — rename them"
        )
    scaled = _scaled_axes(df, cols, bits)
    h_udf = F.pandas_udf(
        lambda *axes: _hilbert_index_batch(axes, bits), "long"
    )
    from tableone_pyspark_spark.plans.fence import once_long

    return df.withColumn(out, once_long(h_udf(*scaled)))


def _hilbert_index_batch(axes, bits: int):
    """Skilling axes-to-transpose + MSB-first interleave over whole
    NumPy int64 arrays — the vectorized executor half of
    :func:`hilbert_frame`. Mirrors the published algorithm (and the
    retired Catalyst chain) operation-for-operation on int64, so the
    returned distances are bit-identical to both; inputs are the
    already range-scaled non-null axes in [0, 2^bits)."""
    import numpy as np
    import pandas as pd

    X = [a.to_numpy(dtype=np.int64, copy=True) for a in axes]
    n = len(X)
    # inverse-undo pass: top bit down to bit 1
    q = 1 << (bits - 1)
    while q > 1:
        p_mask = q - 1
        for i in range(n):
            cond = (X[i] & q) != 0
            t = (X[0] ^ X[i]) & p_mask
            new0 = np.where(cond, X[0] ^ p_mask, X[0] ^ t)
            if i != 0:
                X[i] = np.where(cond, X[i], X[i] ^ t)
            X[0] = new0
        q >>= 1
    # gray encode across dims (sequential — each uses the updated
    # previous dim, matching the per-step chain semantics)
    for i in range(1, n):
        X[i] = X[i] ^ X[i - 1]
    # trailing exchange: t accumulates from the LAST dim's bits
    t_acc = np.zeros(len(X[0]), dtype=np.int64)
    q = 1 << (bits - 1)
    while q > 1:
        t_acc = np.where((X[n - 1] & q) != 0, t_acc ^ (q - 1), t_acc)
        q >>= 1
    for i in range(n):
        X[i] = X[i] ^ t_acc
    # MSB-first interleave of the transposed axes
    h = np.zeros(len(X[0]), dtype=np.int64)
    for qq in range(bits - 1, -1, -1):
        for i in range(n):
            h = (h << 1) | ((X[i] >> qq) & 1)
    return pd.Series(h)


def write_hilbert_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int = 32,
    bits: int = 10,
    mode: str = "overwrite",
    keep_key: bool = False,
    options: dict | None = None,
) -> None:
    """Write parquet laid out by the HILBERT curve over ``cluster_by``
    — :func:`write_zordered`'s sibling with strictly better locality
    (consecutive cells are always unit-distance neighbors): range
    partition on the Hilbert index, sort within partitions, write.

    ``keep_key=True`` persists the ``__h`` column: each file then
    carries a narrow, disjoint ``__h`` min/max, so range predicates
    on the key itself prune files (in addition to the ``cluster_by``
    column stats). Reading back and filtering the MATERIALIZED key is
    the supported read-side pattern — the in-memory chain's output is
    pushdown-fenced (see :func:`hilbert_frame`)."""
    out = hilbert_frame(df, cluster_by, bits)
    staged = out.repartitionByRange(n_files, "__h").sortWithinPartitions(
        "__h"
    )
    if not keep_key:
        staged = staged.drop("__h")
    staged.write.mode(mode).options(**(options or {})).format(
        "parquet"
    ).save(path)


def parquet_column_ranges(path: str, cols: list[str]) -> list[dict]:
    """Per-file [min, max] ranges for ``cols`` from parquet footer
    statistics (no data pages read) — the metadata a data-skipping
    check or file-pruning planner consumes. One dict per file:
    ``{"file": name, col: (min, max), ...}``, min/max aggregated over
    the file's row groups; ``(None, None)`` when any row group lacks
    stats for the column."""
    from pathlib import Path

    import pyarrow.parquet as pq

    out = []
    for f in sorted(Path(path).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        rec: dict = {"file": f.name}
        for c in cols:
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    mn = mx = None
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            rec[c] = (mn, mx)
        out.append(rec)
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
    options: dict | None = None,
) -> None:
    """Write parquet laid out by Z-order over ``zorder_by``: range
    partition on the interleaved key, sort within partitions, write.
    Each output file then spans a narrow min/max range in EVERY
    z-ordered column, so parquet row-group/file stats prune scans
    filtered on ANY of them — the layout step behind data-skipping
    on 100 TB fact tables (one extra range shuffle at write time,
    amortized over every subsequent selective read).
    """
    z = zorder_value(df, zorder_by, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .options(**(options or {}))
        .format("parquet")
        .save(path)
    )
