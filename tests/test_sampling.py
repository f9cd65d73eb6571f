"""Deterministic split/sample: partitioning invariance, key
consistency, approximate fractions, salt decorrelation."""

from __future__ import annotations

from pyspark.sql import functions as F

from tableone_pyspark_spark.operators.sampling import hash_split


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _test_keys(df, fraction, salt="split-v1"):
    out = hash_split(df, "doc_id", test_fraction=fraction, salt=salt)
    return {r["doc_id"] for r in out.where(F.col("split") == "test").collect()}


def test_split_partition_invariant(spark):
    d = _docs(spark)
    a = {r["doc_id"]: r["split"] for r in hash_split(d, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(d.repartition(13), "doc_id").collect()
    }
    assert a == b


def test_split_fraction_and_disjointness(spark):
    d = _docs(spark)
    out = hash_split(d, "doc_id", test_fraction=0.25)
    n = out.count()
    n_test = out.where(F.col("split") == "test").count()
    assert 0.15 <= n_test / n <= 0.35  # hashed fraction ≈ requested
    assert out.where(~F.col("split").isin("train", "test")).count() == 0


def test_sample_is_subset_and_consistent_across_tables(spark):
    d = _docs(spark)
    s1 = _test_keys(d, 0.3)
    # a second table sharing the key space picks the SAME keys
    s2 = _test_keys(d.select("doc_id", "lang"), 0.3)
    assert s1 == s2 and 0 < len(s1) < d.count()


def test_salt_decorrelates(spark):
    d = _docs(spark)
    a = _test_keys(d, 0.5, salt="a")
    b = _test_keys(d, 0.5, salt="b")
    assert a != b  # different salts draw different halves


def test_chunk_documents_coverage_and_overlap(spark):
    from tableone_pyspark_spark.operators.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "short doc"), (3, "  ")],
                               "doc_id long, text string")
    out = sorted(
        chunk_documents(df, "text", "doc_id", chunk_words=40, overlap=10).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    d1 = [r for r in out if r["doc_id"] == 1]
    # stride 30: starts 0, 30, 60 -> 3 chunks; last is short (40 tokens from 60)
    assert [r["chunk_id"] for r in d1] == [0, 1, 2]
    assert [r["n_tokens"] for r in d1] == [40, 40, 40]
    # every token covered: union of chunks = original words
    seen = set()
    for r in d1:
        seen.update(r["chunk_text"].split(" "))
    assert seen == {f"w{i}" for i in range(100)}
    # consecutive chunks share exactly `overlap` tokens
    a = d1[0]["chunk_text"].split(" "); b = d1[1]["chunk_text"].split(" ")
    assert a[-10:] == b[:10]
    # short doc -> one short chunk; whitespace-only doc -> no rows
    d2 = [r for r in out if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["n_tokens"] == 2
    assert not [r for r in out if r["doc_id"] == 3]


def test_weighted_sample_weight_col_single_evaluation(spark):
    """weight_col pins the expensive weight to ONE evaluation: without
    the fence, predicate pushdown inlines a second copy of the
    expression into the filter (VERDICT r3 'weighted_sample evaluates
    quality_score twice')."""
    from tableone_pyspark_spark.functions import text as tx
    from tableone_pyspark_spark.operators.sampling import weighted_sample

    d = _docs(spark)
    w = tx.quality_score(F.col("text"))

    single = d.select(w.alias("q"))._jdf.queryExecution().optimizedPlan()
    n_single = single.toString().count("regexp_extract_all")
    assert n_single > 0

    out = weighted_sample(d, "doc_id", w, weight_col="q").select(
        "doc_id", F.round("q", 6).alias("quality")
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == n_single

    # and the fence changes no values vs the unfenced path
    plain = weighted_sample(d, "doc_id", w).select(
        "doc_id", F.round(w, 6).alias("quality")
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )


# ---- WebDataset tar sharding (X107) ---------------------------------------


def test_webdataset_shards_round_trip_and_determinism(spark):
    """Tar bytes round-trip through tarfile, shard assignment matches
    the deterministic hash family, member order is key-sorted, NULL
    payloads skip per the optional-field convention, and the BYTES are
    identical across partitionings (zeroed metadata)."""
    import io
    import tarfile

    from pyspark.sql import functions as F

    from tableone_pyspark_spark.operators.packing import webdataset_shards

    rows = [
        (f"doc{i:03d}", f"text {i}", bytes([i % 7] * (i + 1)) if i % 3 else None)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "k string, text string, img binary")
    out = webdataset_shards(
        df, "k", {"txt": "text", "bin": "img"}, n_shards=4
    ).collect()
    assert len(out) == 4 and sum(r["n_samples"] for r in out) == 40

    expected_shard = {
        r["k"]: r["s"]
        for r in df.select(
            "k",
            F.pmod(F.xxhash64(F.col("k"), F.lit("wds-v1")), F.lit(4))
            .cast("int")
            .alias("s"),
        ).collect()
    }
    seen = {}
    for r in out:
        names = []
        with tarfile.open(fileobj=io.BytesIO(bytes(r["tar"]))) as tar:
            for m in tar.getmembers():
                names.append(m.name)
                key, ext = m.name.rsplit(".", 1)
                assert expected_shard[key] == r["shard"]
                data = tar.extractfile(m).read()
                i = int(key[3:])
                if ext == "txt":
                    assert data == f"text {i}".encode()
                else:
                    assert i % 3 and data == bytes([i % 7] * (i + 1))
                assert m.mtime == 0 and m.uid == 0
                seen[m.name] = True
        # members arrive key-sorted (txt/bin adjacency per sample)
        keys = [n.rsplit(".", 1)[0] for n in names]
        assert keys == sorted(keys, key=lambda k: (k, ))
    # NULL img members skipped: only i % 3 != 0 docs carry .bin
    assert sum(1 for n in seen if n.endswith(".bin")) == sum(
        1 for i in range(40) if i % 3
    )
    # byte determinism across partitionings
    a = {r["shard"]: bytes(r["tar"]) for r in out}
    b = {
        r["shard"]: bytes(r["tar"])
        for r in webdataset_shards(
            df.repartition(13), "k", {"txt": "text", "bin": "img"}, n_shards=4
        ).collect()
    }
    assert a == b

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        webdataset_shards(df, "k", {})


def test_webdataset_rejects_non_text_non_binary_members(spark):
    from pyspark.sql.utils import PythonException

    from tableone_pyspark_spark.operators.packing import webdataset_shards

    df = spark.createDataFrame([("k1", 5)], "k string, num int")
    import pytest as _pytest

    with _pytest.raises(PythonException, match="string or binary"):
        webdataset_shards(df, "k", {"num": "num"}, n_shards=1).collect()


def test_webdataset_rejects_duplicate_keys(spark):
    """ADVICE r10 fix: duplicate keys emit identically-named tar
    members in unspecified relative order — silently corrupting the
    consecutive-members-per-sample grouping and byte reproducibility.
    A duplicate key is a caller error and raises."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from tableone_pyspark_spark.operators.packing import webdataset_shards

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "z")], "k string, text string"
    )
    with pytest.raises((PythonException, Py4JJavaError), match="duplicate key"):
        webdataset_shards(df, "k", {"txt": "text"}, n_shards=1).collect()


def test_grouped_split_multiway(spark):
    import pytest as _pytest
    from pyspark.sql import functions as _F

    from tableone_pyspark_spark.operators.bloom import poly_hash_py
    from tableone_pyspark_spark.operators.sampling import (
        BUCKETS,
        MOD,
        grouped_split,
    )

    def bucket_py(key, salt="grouped-split-v1"):
        h = poly_hash_py(f"{salt}:{key}")
        h = (h * 48271) % MOD
        h = (h * 48271) % MOD
        return h % BUCKETS

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.createDataFrame(
        [(i, f"site-{i % 500}") for i in range(5000)], "id long, site string"
    )
    out = grouped_split(df, _F.col("site"), fr)
    rows = out.collect()
    # group atomicity: every row of a site shares one label
    by_site = {}
    for r in rows:
        by_site.setdefault(r["site"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_site.values())
    # the label is the pure function of (key, salt) the twin replays
    cut_train = int(BUCKETS * 0.8)
    cut_val = int(BUCKETS * (0.8 + 0.1))
    for site, labels in by_site.items():
        b = bucket_py(site)
        want = "train" if b < cut_train else ("val" if b < cut_val else "test")
        assert labels == {want}, site
    # shares roughly honored over 500 sites
    n_sites = {lbl: 0 for lbl in fr}
    for s in by_site.values():
        n_sites[next(iter(s))] += 1
    assert 340 <= n_sites["train"] <= 450
    assert n_sites["val"] + n_sites["test"] == 500 - n_sites["train"]
    # partitioning invariance
    out2 = {
        r["id"]: r["split"]
        for r in grouped_split(df.repartition(7), _F.col("site"), fr).collect()
    }
    assert out2 == {r["id"]: r["split"] for r in rows}
    # validation
    with _pytest.raises(ValueError, match="sum to 1"):
        grouped_split(df, _F.col("site"), {"a": 0.5, "b": 0.4})
    with _pytest.raises(ValueError, match="non-empty"):
        grouped_split(df, _F.col("site"), {})
    with _pytest.raises(ValueError, match="non-negative"):
        grouped_split(df, _F.col("site"), {"a": -0.1, "b": 1.1})


def test_site_split_groups_by_registrable_domain(spark):
    from pyspark.sql import functions as _F

    from tableone_pyspark_spark.operators.sampling import site_split

    urls = [
        (1, "https://a.example.co.uk/page1"),
        (2, "https://b.example.co.uk/deep/page2"),   # same SITE as 1
        (3, "https://example.co.uk/"),                # same SITE as 1
        (4, "https://other.com/x"),
        (5, "not a url at all"),
        (6, None),
    ]
    df = spark.createDataFrame(urls, "id long, url string")
    out = {
        r["id"]: r["split"]
        for r in site_split(df, "url", {"train": 0.5, "test": 0.5}).collect()
    }
    # the PSL grain: subdomains of one registrable domain split together
    assert out[1] == out[2] == out[3]
    # unattributable URLs/NULLs form one '' group that stays together
    assert out[5] == out[6]


def test_quantile_cuts_fit_apply(spark):
    """X127 Bucketizer artifact: fitted cuts equal the exact discrete
    quantiles under the data-mode property (frame << accuracy), apply
    is the value-semantics count-of-cuts-below fold, NULLs stay NULL,
    ties land together."""
    from tableone_pyspark_spark.operators.stats import (
        apply_quantile_cuts,
        fit_quantile_cuts,
    )

    vals = [float(v) for v in [1, 2, 2, 3, 4, 5, 6, 7, 8, 100]]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, x double")
    cuts = fit_quantile_cuts(df, "x", n_buckets=4)
    # data mode: percentile_approx == quantile_disc on 10 rows
    import math

    def qdisc(p):
        return sorted(vals)[max(0, math.ceil(p * len(vals)) - 1)]

    assert cuts == [qdisc(0.25), qdisc(0.5), qdisc(0.75)]
    out = apply_quantile_cuts(
        df.union(spark.createDataFrame([(99, None)], "id long, x double")),
        "x", cuts,
    )
    got = {r["id"]: r["bucket"] for r in out.collect()}
    # bucket = #cuts strictly below x: ties at a cut land together
    for i, v in enumerate(vals):
        assert got[i] == sum(1 for c in cuts if v > c), (v, cuts)
    assert got[99] is None
    # exact mode returns interpolated quantiles, still non-decreasing
    e = fit_quantile_cuts(df, "x", n_buckets=4, exact=True)
    assert all(a <= b for a, b in zip(e, e[1:]))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        fit_quantile_cuts(df, "x", 1)
    with _pytest.raises(ValueError, match="no non-null"):
        fit_quantile_cuts(
            spark.createDataFrame([], "id long, x double"), "x", 4
        )
    with _pytest.raises(ValueError, match="non-decreasing"):
        apply_quantile_cuts(df, "x", [2.0, 1.0])
    with _pytest.raises(ValueError, match="already in df"):
        apply_quantile_cuts(df.withColumnRenamed("id", "bucket"), "x", [1.0])
    with _pytest.raises(ValueError, match="non-empty"):
        apply_quantile_cuts(df, "x", [])


def test_temporal_split_embargo(spark):
    """X128 purged temporal split: strict train/embargo/test bands,
    NULL ts -> 'unknown' (never silently train), zero-embargo
    degenerate case, validation."""
    from tableone_pyspark_spark.operators.sampling import temporal_split

    rows = [
        (1, "2024-02-28 23:59:59"),
        (2, "2024-03-01 00:00:00"),   # exactly at the cut -> embargo
        (3, "2024-03-01 11:59:59"),   # inside the gap
        (4, "2024-03-01 12:00:00"),   # exactly at cut+embargo -> test
        (5, "2024-03-02 00:00:00"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, ts string")
    out = temporal_split(
        df, "ts", "2024-03-01 00:00:00", embargo_seconds=12 * 3600
    )
    got = {r["id"]: r["split"] for r in out.collect()}
    assert got == {1: "train", 2: "embargo", 3: "embargo",
                   4: "test", 5: "test", 6: "unknown"}
    # zero embargo: the cut row goes straight to test
    z = temporal_split(df, "ts", "2024-03-01 00:00:00")
    assert {r["id"]: r["split"] for r in z.collect()}[2] == "test"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="embargo_seconds"):
        temporal_split(df, "ts", "2024-03-01", embargo_seconds=-1)
    with _pytest.raises(ValueError, match="already in df"):
        temporal_split(df.withColumnRenamed("id", "split"), "ts", "2024-03-01")


def test_temporal_split_garbage_and_nan_cuts(spark):
    """Self-review r11 pins: (a) unparseable ts strings label
    'unknown' instead of crashing the ANSI cast; (b) a bad split_at
    fails eagerly; (c) NaN never enters fitted cuts and NaN values
    bucket to NULL, not bucket 0."""
    import math

    import pytest as _pytest

    from tableone_pyspark_spark.operators.sampling import temporal_split
    from tableone_pyspark_spark.operators.stats import (
        apply_quantile_cuts,
        fit_quantile_cuts,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "not-a-date")],
        "id long, ts string",
    )
    got = {r["id"]: r["split"]
           for r in temporal_split(df, "ts", "2024-03-01").collect()}
    assert got == {1: "train", 2: "unknown"}
    with _pytest.raises(ValueError, match="ISO timestamp"):
        temporal_split(df, "ts", "next tuesday")

    nan = float("nan")
    dfn = spark.createDataFrame(
        [(i, v) for i, v in enumerate([1.0, 2.0, 3.0, nan, nan, nan, nan])],
        "id long, x double",
    )
    cuts = fit_quantile_cuts(dfn, "x", n_buckets=4)
    assert all(math.isfinite(c) for c in cuts)  # NaN never fitted
    out = {r["id"]: r["bucket"]
           for r in apply_quantile_cuts(dfn, "x", cuts).collect()}
    assert out[3] is None and out[4] is None  # NaN -> NULL, not bucket 0
    assert out[0] == 0 and out[2] == sum(1 for c in cuts if 3.0 > c)
    with _pytest.raises(ValueError, match="finite"):
        apply_quantile_cuts(dfn, "x", [nan, 2.0])


def test_temporal_split_basic_iso_forms(spark):
    """Cross-batch review r11: python's fromisoformat accepts basic-ISO
    ('20240301') that Spark's string cast would NULL — the cut literal
    is built from the PARSED value, so these forms split correctly."""
    from tableone_pyspark_spark.operators.sampling import temporal_split

    df = spark.createDataFrame(
        [(1, "2024-02-01 00:00:00"), (2, "2024-04-01 00:00:00")],
        "id long, ts string",
    )
    got = {r["id"]: r["split"]
           for r in temporal_split(df, "ts", "20240301").collect()}
    assert got == {1: "train", 2: "test"}  # not all-'embargo'
