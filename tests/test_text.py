"""Unit tests for functions/text.py (language ID on real-language
samples — the synthetic corpus is English-like for every lang label)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tableone_pyspark_spark.functions import text as tx

from conftest import approx

SAMPLES = [
    ("en", "The quick brown fox jumps over the lazy dog and runs to the hills."),
    ("es", "El perro corre por la calle y los niños juegan en una plaza para todos."),
    ("de", "Der Hund läuft durch die Straße und das ist nicht ein Problem."),
    ("fr", "Le chien court dans la rue et les enfants jouent pour vous dans une cour."),
    ("zh", "狗在街上跑，孩子们在广场上玩耍。"),
]


def test_lang_id_real_samples(spark):
    df = spark.createDataFrame(SAMPLES, "lang string, text string")
    rows = df.select("lang", tx.lang_id(F.col("text")).alias("pred")).collect()
    for r in rows:
        assert r["pred"] == r["lang"], (r["lang"], r["pred"])


def test_counts_and_ratios(spark):
    df = spark.createDataFrame([("Hello, world! 42 times",)], "text string")
    r = df.select(
        tx.word_count(F.col("text")).alias("wc"),
        tx.token_count(F.col("text")).alias("tc"),
        tx.punct_ratio(F.col("text")).alias("pr"),
        tx.alpha_ratio(F.col("text")).alias("ar"),
    ).collect()[0]
    assert r["wc"] == 4
    # Hello , world ! 4 2 times → letter runs: Hello, world, times;
    # digits: 4, 2; punct: , !
    assert r["tc"] == 7
    assert approx(r["pr"], 2 / 22)
    assert approx(r["ar"], 15 / 22)


def test_quality_bounds(spark, patients):
    df = spark.createDataFrame(
        [(t,) for _l, t in SAMPLES] + [("",), ("!!!???;;;",), ("x" * 2000,)],
        "text string",
    )
    rows = df.select(tx.quality_score(F.col("text")).alias("q")).collect()
    for r in rows:
        assert 0.0 <= r["q"] <= 1.0
    # punctuation wall scores worse than natural English
    qs = {t: q for (t,), q in zip(df.select("text").collect(), [r["q"] for r in rows])}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "  HELLO\tWORLD \n"), (4, "other")],
        "id long, text string",
    )
    rows = df.select("id", tx.fingerprint(F.col("text")).alias("fp")).collect()
    fps = {r["id"]: r["fp"] for r in rows}
    assert fps[1] == fps[2] == fps[3]
    assert fps[4] != fps[1]


def test_stopword_ratio(spark):
    df = spark.createDataFrame([("the cat and the dog",)], "text string")
    r = df.select(tx.stopword_ratio(F.col("text")).alias("s")).collect()[0]
    assert approx(r["s"], 3 / 5)  # the, and, the


def test_rolling_fingerprint(spark):
    df = spark.createDataFrame(
        [("abc",), ("abd",), ("  ABC \t",), ("",)], "t string"
    )
    fp = tx.poly_hash(tx.normalize_text(F.col("t")))
    fps = [r[0] for r in df.select(fp).collect()]
    # Horner over 'abc' = ((0*31+97)*31+98)*31+99 = 96354
    assert fps[0] == ((97 * 31 + 98) * 31 + 99) % ((1 << 31) - 1)
    assert fps[0] != fps[1]            # single-char change flips the hash
    assert fps[2] == fps[0]            # normalization: case + whitespace


def test_repetition_profile_arrow_catalyst_parity(spark):
    # adversarial cases: repeated words, looped bigrams, short docs
    # (0/1/2 words), empty text, whitespace runs, mixed case
    docs = [
        (1, "the cat sat on the mat the cat sat again"),
        (2, "buy now buy now buy now buy now"),
        (3, "one"),
        (4, "two words"),
        (5, ""),
        (6, "  A  a\ta \n A  "),
        (7, "x y z " * 50),
        (8, "unique tokens only here nothing repeats ever"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cols = ["n_words", "dup_word_frac", "top_bigram_frac", "dup_trigram_frac"]
    fast = {
        r["doc_id"]: r
        for r in tx.repetition_profile(df, "doc_id", "text", arrow=True).collect()
    }
    slow = {
        r["doc_id"]: r
        for r in tx.repetition_profile(df, "doc_id", "text", arrow=False).collect()
    }
    assert fast.keys() == slow.keys()
    for k in fast:
        for c in cols:
            a, b = fast[k][c], slow[k][c]
            assert (a is None and b is None) or approx(a, b), (k, c, a, b)
    # spot-check semantics: doc 2 = "buy now"×4 → 8 words, top bigram
    # "buy now" occurs 4 of 7 bigram slots
    assert fast[2]["n_words"] == 8
    assert approx(fast[2]["top_bigram_frac"], 4 / 7)
    assert approx(fast[2]["dup_word_frac"], 6 / 8)
    # doc 5: normalize("")→"" splits to [""] → 1 word, no bigrams
    assert fast[5]["n_words"] == 1
    assert fast[5]["top_bigram_frac"] is None


def test_rolling_fingerprint_is_bloom_h1(spark):
    """Pin the identity the r11 text_fingerprints deletion cites: the
    document fingerprint (poly_hash of the normalized text, base 31,
    mod 2^31-1) IS the h1 intermediate bloom builds/probes grade per
    document — the Catalyst fold and bloom's Arrow batch fold are
    value-equal on the real corpus, so the deleted query's evidence
    remains row-covered through bloom_probe."""
    from pyspark.sql import functions as F

    from tableone_pyspark_spark.functions.text import normalize_text, poly_hash
    from tableone_pyspark_spark.operators.bloom import _horner_batch

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    norm = normalize_text(F.col("text"))
    rows = d.select(
        norm.alias("norm"), poly_hash(norm, 31).alias("fp")
    ).collect()
    assert len(rows) == 500
    h1 = _horner_batch([r["norm"] for r in rows], 31)
    assert [r["fp"] for r in rows] == h1.tolist()


def test_c4_page_kernel_matches_catalyst_twin(spark):
    # r18: the Arrow c4 kernel (page synthesis + c4_clean once per row)
    # must be BIT-identical to the retained Catalyst twin
    # c4_clean(c4_page_catalyst(...)) — adversarial strings cover the
    # Java-vs-Python seams the twin replicates: trim is space-only
    # (\t/\r survive), `$` honors one final line terminator (\r,  
    # etc), unicode closing quotes, lorem-ipsum case folding, "{"
    # anywhere, empty/NULL text, and the corpus itself.
    adversarial = [
        (0, "lorem IPSUM everywhere plus words here"),     # %13==0 + case
        (1, "a b c d e f g h i j k l m n o p q r s t"),
        (2, ""),                                            # empty text
        (3, None),                                          # NULL text
        (4, "word " * 40),                                  # trailing space runs
        (5, "ends with tab\tmid words more words here ok"),
        (6, "quote” style words in here for lines ok"),
        (7, "brace { in text words words words words"),
        (13, "thirteen page lorem trigger words here yes"),  # %13==0
        (17, "seventeen page brace trigger words here ok"),  # %17==0
        (34, "both mods words here for testing more ok"),    # %17==0
        (26, "lorem mod again words here for testing ok"),   # %13==0
        (8, "\rcarriage\rreturns\rin\rtext words here ok"),
        (9, "unicode éè café straße words here ok"),
        (10, "astral \U0001F600 plane \U0001F680 words here ok ok"),
        (11, "JavaScript JAVASCRIPT javascript words in text here"),
        (12, "x"),                                          # single word
    ]
    docs = spark.createDataFrame(adversarial, "doc_id long, text string")
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (docs, corpus.select("doc_id", "text")):
        twin = df.select(
            "doc_id",
            tx.c4_clean(
                tx.c4_page_catalyst(F.col("doc_id"), F.col("text"))
            ).alias("c4"),
        ).select(
            "doc_id",
            F.col("c4.text").alias("c4_text"),
            F.col("c4.n_lines").alias("c4_n_lines"),
            F.col("c4.n_kept").alias("c4_n_kept"),
            F.col("c4.drop").alias("c4_drop"),
        )
        fast = tx.c4_page_kernel(df, "doc_id", "text").drop("text")
        t = {r["doc_id"]: r for r in twin.collect()}
        k = {r["doc_id"]: r for r in fast.collect()}
        assert t.keys() == k.keys()
        for did in t:
            for c in ("c4_text", "c4_n_lines", "c4_n_kept", "c4_drop"):
                assert t[did][c] == k[did][c], (did, c, t[did][c], k[did][c])


def test_py_c4_clean_java_seams(spark):
    # direct pins of the two Java-regex seams the Python twin must
    # replicate: F.trim strips ASCII space only, and Java `$` matches
    # before ONE final line terminator
    cases = [
        "three words here.",       # plain keep
        "three words here.\r",     # Java $ sees the '.' before \r
        "three words here.\t",     # \t survives trim -> no terminal '.'
        "  three words here. ",    # spaces trimmed both ends
        "three words here. ", # LS is a Java line terminator
        "three words here!”", # closing typographic quote
        "two words.",
        "has javascript in line.",
        "three words here?'",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i long, s string")
    want = {
        r["i"]: r["ok"]
        for r in df.select(
            "i",
            (
                F.trim(F.col("s")).rlike("[.!?][\"”']?$")
                & (tx.word_count(F.trim(F.col("s"))) >= 3)
                & ~F.lower(F.trim(F.col("s"))).contains("javascript")
            ).alias("ok"),
        ).collect()
    }
    for i, s in enumerate(cases):
        t = tx._java_trim(s)
        got = (
            tx._C4_TERM_RE.search(tx._java_dollar_view(t)) is not None
            and len(tx._C4_WORD_RE.findall(t)) >= 3
            and "javascript" not in t.lower()
        )
        assert got == want[i], (i, s, got, want[i])
