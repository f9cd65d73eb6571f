"""Text-analysis column functions for large-scale document pipelines.

Default shape: pure Catalyst column expressions (JVM-side, whole-stage
codegen — no UDFs), so they run at full speed over a 100 TB
`documents` table. Regex patterns are restricted to syntax with
identical semantics in Java regex (Spark) and RE2 (DuckDB) so each
operator is oracle-checkable. The two documented exceptions are the
per-row multi-Counter profiles (:func:`repetition_profile`,
:func:`gopher_repetition_profile`) — Arrow-batched kernels, because
Catalyst evaluates higher-order-function lambdas interpreted per
element (measured 18× slower) and a 13-signal nested-array expression
tree explodes codegen compile time; both stay pure row-local
projections.

Operators (north-star extensions per BASELINE.json; no equivalent in
the reference, which has no string analytics at all):
  * token / word counting (whitespace + BPE-ish regex)
  * quality scoring (length, punctuation, stopword, alpha ratios)
  * Gopher quality + repetition rule sets (Rae 2021 A1.1)
  * C4 page cleaning (Raffel 2020)
  * language ID (marker-word + CJK-codepoint heuristic)
  * document fingerprinting (normalized-text xxhash64, poly-hash)
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: compiled once: py_norm_words runs per document inside Arrow kernels
_WS_RE = _re.compile(r"[ \t\n]+")

#: BPE-ish pre-tokenization: letter runs, single digits, or single
#: non-space punctuation — approximates byte-pair-encoder input units
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n]"

#: whitespace-delimited word
WORD_RE = "[^ \\t\\n]+"

#: punctuation / symbols (not alphanumeric, not whitespace)
PUNCT_RE = "[^A-Za-z0-9 \\t\\n]"

#: small English stopword set used for the stopword ratio
STOPWORDS = ["the", "and", "of", "to", "is", "in", "a", "that", "it", "for"]
STOPWORD_RE = "\\b(" + "|".join(STOPWORDS) + ")\\b"

#: language marker words; scored per language then arg-maxed.
#: zh is detected first by CJK codepoints (no spaces to tokenize).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "you", "with"],
    "es": ["el", "la", "los", "las", "que", "una", "para"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein"],
    "fr": ["le", "les", "est", "une", "dans", "pour", "vous"],
}
#: \x{...} escape form — identical syntax in Java regex and RE2/DuckDB
CJK_RE = "[\\x{4e00}-\\x{9fff}]"


def word_count(c: Column) -> Column:
    """Whitespace-token count."""
    return F.regexp_count(c, F.lit(WORD_RE))


def token_count(c: Column) -> Column:
    """BPE-ish token count — a fast, deterministic proxy for LLM token
    budgeting (letter runs + digits + punctuation marks)."""
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def punct_ratio(c: Column) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    return F.regexp_count(c, F.lit(PUNCT_RE)) / F.greatest(F.length(c), F.lit(1))


def stopword_ratio(c: Column) -> Column:
    """English stopword tokens / words (0 for empty)."""
    hits = F.regexp_count(F.lower(c), F.lit(STOPWORD_RE))
    return hits / F.greatest(word_count(c), F.lit(1))


def alpha_ratio(c: Column) -> Column:
    return F.regexp_count(c, F.lit("[A-Za-z]")) / F.greatest(F.length(c), F.lit(1))


def quality_score(c: Column) -> Column:
    """Heuristic document quality in [0, 1]: rewards mid-length docs,
    alphabetic content and natural stopword density; penalizes
    punctuation walls. Deterministic and SQL-expressible."""
    length_term = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    sw = stopword_ratio(c)
    sw_term = F.least(sw / F.lit(0.3), F.lit(1.0))
    return (
        F.lit(0.3) * length_term
        + F.lit(0.3) * alpha_ratio(c)
        + F.lit(0.3) * sw_term
        + F.lit(0.1) * (F.lit(1.0) - F.least(punct_ratio(c) * 3, F.lit(1.0)))
    )


def lang_scores(c: Column) -> dict[str, Column]:
    """Per-language marker-hit counts (plus CJK codepoint count)."""
    low = F.lower(c)
    out = {"zh": F.regexp_count(c, F.lit(CJK_RE))}
    for lang, words in LANG_MARKERS.items():
        pat = "\\b(" + "|".join(words) + ")\\b"
        out[lang] = F.regexp_count(low, F.lit(pat))
    return out


def lang_id(c: Column) -> Column:
    """Arg-max language over :func:`lang_scores` with a fixed
    tie-break order (zh > en > es > de > fr), so results are identical
    across engines."""
    s = lang_scores(c)
    return (
        F.when(s["zh"] >= 1, F.lit("zh"))
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), F.lit("en"))
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), F.lit("es"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def normalize_text(c: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), "[ \\t\\n]+", " "))


def py_norm_words(t: str | None) -> list[str]:
    """Python twin of ``split(normalize_text(c), " ")`` minus empties:
    lower, collapse ``[ \\t\\n]+`` to one space, strip SPACES only
    (``F.trim`` / DuckDB ``trim`` remove spaces, not ``\\r``/``\\x0b``
    — ADVICE r7), split, drop empties. The ONE tokenization every
    Arrow kernel that must replicate the Catalyst normalization
    exactly imports (DSIR, the quality classifier); inline copies are
    drift risks (self-review r10)."""
    if t is None:
        return []
    return [
        w for w in _WS_RE.sub(" ", t.lower()).strip(" ").split(" ") if w
    ]


_POLY_WORD_CACHES: dict = {}


def poly_word_entry(w: str, base: int = 31, mod: int = (1 << 31) - 1):
    """(h, f, a) for word ``w`` under the ``base``-Horner fold of
    :func:`poly_hash`: ``h = poly_hash(w)``; appending ``" w"`` to a
    prefix with hash ``x`` yields ``(x*f + a) % mod`` where
    ``f = base^(len(w)+1)`` and ``a = 32·base^len(w) + h`` (32 =
    ``ord(' ')``). Lets Arrow kernels combine word-level hashes into
    space-joined shingle hashes with two modmuls per word instead of a
    char fold per shingle. Cached per (base, word) across batches
    (worker-persistent module global; natural-text vocabularies are
    Zipfian, so the cache carries most of the per-word cost)."""
    cache = _POLY_WORD_CACHES.setdefault((base, mod), {})
    e = cache.get(w)
    if e is None:
        h = 0
        for ch in w:
            h = (h * base + ord(ch)) % mod
        pw = pow(base, len(w), mod)
        e = (h, (base * pw) % mod, (32 * pw + h) % mod)
        if len(cache) > 2_000_000:
            cache.clear()
        cache[w] = e
    return e


def fingerprint(c: Column) -> Column:
    """64-bit content fingerprint of the normalized text (xxhash64 —
    engine-specific values; use for grouping, not cross-engine compare)."""
    return F.xxhash64(normalize_text(c))


def poly_hash(c: Column, base: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial (Rabin-Karp) Horner fold ``acc = (acc·base + code) %
    mod`` over the character codes of ``c`` (no normalization). The
    value is defined by pure arithmetic any engine reproduces exactly —
    the cross-engine-checkable alternative to xxhash64. ``mod`` < 2³¹
    keeps every intermediate below 2⁶³ (no overflow under ANSI). Pure
    Catalyst fold; use for grouping/content-addressing, not
    cryptographic integrity."""
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def word_grams(words: Column, n: int) -> Column:
    """Per-OCCURRENCE word n-grams of a word-array column (unlike the
    dedup shingles, duplicates are kept — repetition analysis needs the
    multiset). Short arrays (< n words) yield an empty array; the
    sequence end is clamped so nothing descends or reads past the array
    under ANSI mode."""
    k = F.size(words) - (n - 1)
    return F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(0), F.greatest(k, F.lit(1)) - 1),
            lambda i: F.concat_ws(
                " ",
                *[F.try_element_at(words, (i + j + 1).cast("int")) for j in range(n)],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def max_run_count(arr: Column) -> Column:
    """Highest frequency of any single element in an array column:
    ``array_sort`` then one fold counting the longest equal run —
    O(n log n) per ROW, entirely inside whole-stage codegen, zero
    shuffle. This is the scale-safe alternative to explode + groupBy
    for per-document mode statistics."""

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        step,
        lambda acc: acc["best"],
    )


def repetition_profile(df, id_col: str, text_col: str, arrow: bool = True):
    """Gopher-style repetition profile as a DataFrame:
    ``(id_col, n_words, dup_word_frac, top_bigram_frac, dup_trigram_frac)``.

    Same signals as :func:`repetition_cols`, but the per-document gram
    counting defaults to one Arrow-batched pandas UDF (per-row
    ``collections.Counter``) instead of Catalyst higher-order-function
    folds — Spark evaluates HOF lambdas *interpreted, per element*, which
    made the fold path the suite's hot spot (71 s at sf0.1 vs <4 s
    vectorized; same pattern as ``word_shingles``'s Arrow default).
    Normalization + word split stay Catalyst so both paths tokenize
    identically; outputs are parity-pinned by test. Still a pure
    projection — row-local, zero shuffle, scales linearly at 100 TB.
    ``arrow=False`` keeps the pure-Catalyst twin.
    """
    from tableone_pyspark_spark.plans.layout import rebalance

    if not arrow:
        cols = repetition_cols(F.col(text_col))
        return df.select(
            id_col,
            cols["n_words"].cast("int").alias("n_words"),
            cols["dup_word_frac"].alias("dup_word_frac"),
            cols["top_bigram_frac"].alias("top_bigram_frac"),
            cols["dup_trigram_frac"].alias("dup_trigram_frac"),
        )

    import pandas as pd

    def _prof(word_arrays):
        from collections import Counter

        rows = []
        for ws in word_arrays:
            if ws is None:
                rows.append((None, None, None, None))
                continue
            ws = list(ws)
            n = len(ws)
            dup_w = float(n - len(set(ws))) / n if n > 0 else None
            n2 = n - 1
            if n2 > 0:
                c2 = Counter(zip(ws, ws[1:]))
                top2 = float(max(c2.values())) / n2
            else:
                top2 = None
            n3 = n - 2
            if n3 > 0:
                dup3 = float(n3 - len(set(zip(ws, ws[1:], ws[2:])))) / n3
            else:
                dup3 = None
            rows.append((n, dup_w, top2, dup3))
        return pd.DataFrame(
            rows,
            columns=[
                "n_words", "dup_word_frac", "top_bigram_frac", "dup_trigram_frac"
            ],
        )

    words = F.split(normalize_text(F.col(text_col)), " ")
    prof = F.pandas_udf(
        _prof,
        "struct<n_words:int,dup_word_frac:double,"
        "top_bigram_frac:double,dup_trigram_frac:double>",
    )(words)
    return (
        rebalance(df.select(id_col, text_col))
        .select(F.col(id_col), prof.alias("_p"))
        .select(id_col, "_p.*")
    )


def repetition_cols(c: Column) -> dict[str, Column]:
    """Gopher-style repetition signals for LLM-corpus curation, all
    row-local (the whole profile is a projection — at 100 TB it
    parallelizes perfectly with no aggregation stage):

      * ``n_words``          — whitespace token count
      * ``dup_word_frac``    — 1 − distinct/total words: bulk word reuse
      * ``top_bigram_frac``  — occurrences of the most frequent word
                               bigram over all bigram occurrences
      * ``dup_trigram_frac`` — fraction of trigram occurrences that are
                               repeats of an earlier trigram

    High values flag boilerplate / keyword-stuffed / looping documents
    (Rae et al. 2021 "Scaling Language Models" repetition filters).
    """
    words = F.split(normalize_text(c), " ")
    g2 = word_grams(words, 2)
    g3 = word_grams(words, 3)
    n_words = F.size(words)
    frac = lambda num, den: F.when(den > 0, num / den)  # noqa: E731
    return {
        "n_words": n_words,
        "dup_word_frac": frac(
            (n_words - F.size(F.array_distinct(words))).cast("double"), n_words
        ),
        "top_bigram_frac": frac(max_run_count(g2).cast("double"), F.size(g2)),
        "dup_trigram_frac": frac(
            (F.size(g3) - F.size(F.array_distinct(g3))).cast("double"), F.size(g3)
        ),
    }


def c4_clean(c: Column, min_words_per_line: int = 3, min_sentences: int = 5) -> Column:
    """C4-style page cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning...", §2.2 public heuristics) as ONE
    pure-Catalyst struct expression — no UDF, no shuffle, evaluated at
    the scan. Faithful to the paper's rules:

      line rules (kept iff ALL hold): ends in terminal punctuation
      (. ! ? or a closing quote after one), has ≥
      ``min_words_per_line`` words (paper: 3), no "javascript"
      (case-insensitive).
      page rules (the whole page DROPS): contains "lorem ipsum"
      (boilerplate tell), contains a curly bracket "{" ANYWHERE
      (code tell — page-level per the paper, not line-level), or
      keeps fewer than ``min_sentences`` sentences (paper: 5;
      terminal-punctuation count over the kept lines).

    Returns struct(text, n_lines, n_kept, drop): ``text`` is the kept
    lines re-joined by newline ('' when dropped), ``drop`` the
    page-level verdict. NULL input behaves as an empty page (drop).
    Deterministic and SQL-expressible for oracle replay (the closing
    typographic quote appears as a LITERAL character in the pattern —
    identical bytes on Java regex and RE2, no engine-specific
    escapes)."""
    txt = F.coalesce(c, F.lit(""))
    lines = F.split(txt, "\n")

    def line_ok(l: Column) -> Column:
        t = F.trim(l)
        return (
            t.rlike("[.!?][\"\u201d']?$")
            & (word_count(t) >= min_words_per_line)
            & ~F.lower(t).contains("javascript")
        )

    kept = F.filter(lines, line_ok)
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(kept_text, F.lit(r"[.!?]"))
    drop = (
        F.lower(txt).contains("lorem ipsum")
        | txt.contains("{")
        | (n_sentences < min_sentences)
    )
    return F.struct(
        F.when(drop, F.lit("")).otherwise(kept_text).alias("text"),
        F.size(lines).alias("n_lines"),
        F.when(drop, F.lit(0)).otherwise(F.size(kept)).alias("n_kept"),
        drop.alias("drop"),
    )


# --- C4 page kernel (r18, guide §4.2) --------------------------------
#
# curate_documents synthesizes a page per document and runs c4_clean
# over it. Catalyst evaluates that higher-order-function tree
# INTERPRETED (no codegen for transform/filter lambdas), and the
# non-codegen Project has no common-subexpression elimination, so the
# whole synthesis+cleaning tree re-evaluates once per struct-field
# reference (~15x per row in the measured plan). The kernel computes
# everything ONCE per row in an Arrow batch; the Catalyst expressions
# stay as the differential reference twin (pinned bit-identical in
# tests/test_text.py).

_C4_TERM_RE = _re.compile("[.!?][\"\u201d']?\\Z")
_C4_WORD_RE = _re.compile(r"[^ \t\n]+")
_C4_SENT_RE = _re.compile(r"[.!?]")
_JAVA_LINE_TERM = ("\n", "\r", "\u0085", "\u2028", "\u2029")


def _java_trim(s: str) -> str:
    # Spark F.trim == UTF8String.trim(): strips ASCII space 0x20 ONLY
    # (SPARK-17299), unlike Python str.strip()'s all-whitespace rule
    return s.strip(" ")


def _java_dollar_view(s: str) -> str:
    # Java regex `$` (non-MULTILINE) matches at the end of input OR
    # just before ONE final line terminator (\r\n counts as one unit);
    # Python's `$` only honors a final \n — strip that terminator and
    # anchor with \Z instead
    if s.endswith("\r\n"):
        return s[:-2]
    if s and s[-1] in _JAVA_LINE_TERM:
        return s[:-1]
    return s


def py_c4_page(doc_id, text):
    """Pure-Python twin of the curate_documents page synthesis
    (the Catalyst column from :func:`c4_page_catalyst`) — NULL in,
    NULL out; non-negative doc_ids (the corpus contract; Java and
    Python ``%`` agree only there)."""
    import math

    if text is None or doc_id is None:
        return None
    ws = text.split(" ")
    wpl = int(doc_id) % 4 + 2
    n_lines = math.ceil(len(ws) / wpl)
    lorem = doc_id % 13 == 0
    out = []
    for i in range(n_lines):
        line = " ".join(ws[i * wpl : i * wpl + wpl])
        if lorem and i == 0:
            line += " lorem ipsum"
        if i % 7 == 6:
            line += " javascript."
        elif i % 5 == 4:
            pass
        else:
            line += "."
        out.append(line)
    page = "\n".join(out)
    if doc_id % 17 == 0:
        page += "\n{x}"
    return page


def c4_page_catalyst(doc_id: Column, text: Column) -> Column:
    """The page synthesis as a pure Catalyst column (the pre-r18
    curate_documents expression, retained as the differential twin and
    for oracle replay): doc_id%4+2 words per line ('.'-terminated),
    every 5th line unterminated, every 7th line "javascript.",
    doc_id%13 pages get "lorem ipsum", doc_id%17 pages a "{" line."""
    ws = F.split(text, " ")
    wpl = (doc_id % 4 + 2).cast("int")
    n_lines = F.ceil(F.size(ws) / wpl).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat(
            F.array_join(F.slice(ws, (i * wpl + 1).cast("int"), wpl), " "),
            F.when(
                (doc_id % 13 == 0) & (i == 0), F.lit(" lorem ipsum")
            ).otherwise(F.lit("")),
            F.when(i % 7 == 6, F.lit(" javascript."))
            .when(i % 5 == 4, F.lit(""))
            .otherwise(F.lit(".")),
        ),
    )
    return F.concat(
        F.array_join(lines, "\n"),
        F.when(doc_id % 17 == 0, F.lit("\n{x}")).otherwise(F.lit("")),
    )


def py_c4_clean(
    page, min_words_per_line: int = 3, min_sentences: int = 5
):
    """Pure-Python twin of :func:`c4_clean` — identical rules, NULL
    page behaves as an empty page. Returns (text, n_lines, n_kept,
    drop)."""
    txt = page if page is not None else ""
    lines = txt.split("\n")
    kept = []
    for line in lines:
        t = _java_trim(line)
        if (
            _C4_TERM_RE.search(_java_dollar_view(t)) is not None
            and len(_C4_WORD_RE.findall(t)) >= min_words_per_line
            and "javascript" not in t.lower()
        ):
            kept.append(line)
    kept_text = "\n".join(kept)
    n_sent = len(_C4_SENT_RE.findall(kept_text))
    drop = (
        "lorem ipsum" in txt.lower()
        or "{" in txt
        or n_sent < min_sentences
    )
    return (
        "" if drop else kept_text,
        len(lines),
        0 if drop else len(kept),
        drop,
    )


def c4_page_kernel(df, doc_id_col: str, text_col: str):
    """Append ``c4_clean(synthesized page)`` columns in ONE zero-shuffle
    ``mapInArrow`` projection (r18, guide §4.2 — the span_dedup /
    PassJoin kernel recipe). Output: every input column (pass-through,
    zero-copy Arrow) + c4_text string, c4_n_lines int, c4_n_kept int,
    c4_drop boolean. Bit-identical to
    ``c4_clean(c4_page_catalyst(...))`` (differential-pinned)."""
    names = df.columns
    did, tid = names.index(doc_id_col), names.index(text_col)

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(did).to_pylist()
            texts = batch.column(tid).to_pylist()
            t_out, nl, nk, dr = [], [], [], []
            for d, t in zip(ids, texts):
                ct, cnl, cnk, cdr = py_c4_clean(py_c4_page(d, t))
                t_out.append(ct)
                nl.append(cnl)
                nk.append(cnk)
                dr.append(cdr)
            yield pa.RecordBatch.from_arrays(
                [
                    *batch.columns,
                    pa.array(t_out, pa.string()),
                    pa.array(nl, pa.int32()),
                    pa.array(nk, pa.int32()),
                    pa.array(dr, pa.bool_()),
                ],
                names=[*names, "c4_text", "c4_n_lines", "c4_n_kept", "c4_drop"],
            )

    in_fields = ", ".join(
        f"`{n}` {df.schema[n].dataType.simpleString()}" for n in names
    )
    return df.mapInArrow(
        fn,
        in_fields
        + ", c4_text string, c4_n_lines int, c4_n_kept int, c4_drop boolean",
    )


#: Gopher rule A1.1 stop words (Rae et al. 2021 list every word)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    c: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_words: int = 2,
) -> Column:
    """Gopher quality filtering (Rae et al. 2021, "Scaling Language
    Models: ...Gopher", Appendix A §A1.1) as ONE pure-Catalyst struct
    expression — the production-rules complement to :func:`c4_clean`
    (page-level heuristics vs C4's line surgery). Faithful to the
    paper's documented rule set; every signal is returned so a
    pipeline can re-threshold without recomputing:

      - word count within [50, 100k] (whitespace words)
      - mean word length within [3, 10] characters
      - symbol-to-word ratio <= 0.1 for the hash symbol AND (tested
        separately, per the paper's "either") for the ellipsis
      - <= 90% of lines may start with a bullet (•, -, *)
      - <= 30% of lines may end with an ellipsis (... or …)
      - >= 80% of words contain at least one alphabetic character
      - at least 2 of the 8 listed stop words appear (the, be, to,
        of, and, that, have, with)

    Returns struct(n_words, mean_word_len, hash_word_ratio,
    ellipsis_word_ratio, bullet_line_frac, ellipsis_line_frac,
    alpha_word_frac, n_stop_words, keep). NULL input behaves as an
    empty page (drop). Deterministic and SQL-expressible for oracle
    replay (whitespace words = the shared WORD_RE; fractions are
    exact ratios, no rounding inside the verdict)."""
    txt = F.coalesce(c, F.lit(""))
    words = F.filter(F.split(txt, "[ \\t\\n]+"), lambda w: w != "")
    n_words = F.size(words)
    nz = F.greatest(n_words, F.lit(1))  # guarded denominators
    mean_word_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    ) / nz
    hash_ratio = (F.size(F.split(txt, "#", -1)) - 1) / nz
    # non-overlapping left-to-right '...' count (… counts too)
    ell_ratio = (F.size(F.split(txt, r"(\.\.\.|…)", -1)) - 1) / nz
    lines = F.split(txt, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike("^[•\\-\\*]")))
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                lines, lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$")
            )
        )
        / n_lines
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / nz
    )
    low = F.concat(F.lit(" "), F.lower(txt), F.lit(" "))
    n_stop = sum(
        (
            F.size(
                F.split(
                    F.regexp_replace(low, "[^a-z]+", " "),
                    f" {w} ",
                    -1,
                )
            )
            > 1
        ).cast("int")
        for w in GOPHER_STOPWORDS
    )
    keep = (
        n_words.between(min_words, max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (hash_ratio <= max_symbol_word_ratio)
        & (ell_ratio <= max_symbol_word_ratio)
        & (bullet_frac <= max_bullet_line_frac)
        & (ellipsis_frac <= max_ellipsis_line_frac)
        & (alpha_frac >= min_alpha_word_frac)
        & (n_stop >= min_stop_words)
    )
    return F.struct(
        n_words.cast("long").alias("n_words"),
        mean_word_len.cast("double").alias("mean_word_len"),
        hash_ratio.cast("double").alias("hash_word_ratio"),
        ell_ratio.cast("double").alias("ellipsis_word_ratio"),
        bullet_frac.cast("double").alias("bullet_line_frac"),
        ellipsis_frac.cast("double").alias("ellipsis_line_frac"),
        alpha_frac.cast("double").alias("alpha_word_frac"),
        n_stop.cast("int").alias("n_stop_words"),
        keep.alias("keep"),
    )


GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def gopher_repetition_profile(
    df, id_col: str, text_col: str, thresholds: dict | None = None
):
    """Gopher repetition filtering (Rae et al. 2021, Appendix A
    §A1.1, the "repetitious document" rules) — the second half of the
    Gopher pair with :func:`gopher_quality`, and the within-document
    complement to the cross-document dedup family. Returns
    ``(id_col, <the 13 signals of GOPHER_REPETITION_THRESHOLDS>,
    keep)``; a document keeps iff every signal is at or under its
    threshold (pass ``thresholds`` to re-tune).

    Definitions (paper A1.1, DataTrove-compatible):
      - dup line / paragraph fraction: occurrences beyond the first
        per distinct value, over all non-blank lines / paragraphs
        (paragraphs = ``\\n\\n``-separated)
      - dup line / paragraph CHARACTER fraction: characters of those
        beyond-first occurrences over all line/paragraph characters
      - top {2,3,4}-gram character fraction: the most frequent word
        n-gram's count × its word characters over total word
        characters (ties: lexicographically smallest gram)
      - dup {5..10}-gram character fraction: characters of words
        covered by ANY occurrence of a gram value appearing >= 2
        times, overlap-UNIONED (whitespace excluded from numerator
        and denominator)

    Shape: one Arrow-batched kernel (per-row Counters — the
    documented UDF case, same rationale and parity precedent as
    :func:`repetition_profile`: Catalyst HOF lambdas evaluate
    interpreted per element and a 13-signal expression tree also
    explodes codegen compile time). Still a pure projection —
    row-local, zero shuffle, linear at 100 TB. Normalization + word
    split stay Catalyst so tokenization matches the rest of the text
    family."""
    import pandas as pd

    from tableone_pyspark_spark.plans.layout import rebalance

    thr = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(thr)
        if unknown:
            raise ValueError(f"unknown thresholds: {sorted(unknown)}")
        thr.update(thresholds)
    sig_names = list(GOPHER_REPETITION_THRESHOLDS)

    def _dup_fracs(items: list[str]) -> tuple[float, float]:
        from collections import Counter

        if not items:
            return 0.0, 0.0
        counts = Counter(items)
        n_dup = sum(c - 1 for c in counts.values())
        chars = sum(len(x) for x in items)
        dup_chars = sum((c - 1) * len(v) for v, c in counts.items())
        return n_dup / len(items), (dup_chars / chars if chars else 0.0)

    def _prof(texts):
        import re
        from collections import Counter

        rows = []
        for txt in texts:
            if txt is None:
                txt = ""
            lines = [l for l in txt.split("\n") if l.strip()]
            paras = [p for p in re.split(r"\n\n+", txt) if p.strip()]
            # .strip(" ") not .strip(): F.trim / DuckDB trim remove
            # SPACES only, so a trailing \r/\x0b must stay in the word
            ws = [
                w
                for w in re.sub(r"[ \t\n]+", " ", txt.lower()).strip(" ").split(" ")
                if w
            ]
            wchars = sum(len(w) for w in ws)
            sig = {}
            sig["dup_line_frac"], sig["dup_line_char_frac"] = _dup_fracs(lines)
            sig["dup_para_frac"], sig["dup_para_char_frac"] = _dup_fracs(paras)
            for n in (2, 3, 4):
                key = f"top_{n}gram_char_frac"
                grams = list(zip(*[ws[i:] for i in range(n)]))
                if grams and wchars:
                    c = Counter(grams)
                    top_count = max(c.values())
                    g = min(g for g, k in c.items() if k == top_count)
                    sig[key] = top_count * sum(len(w) for w in g) / wchars
                else:
                    sig[key] = 0.0
            for n in range(5, 11):
                key = f"dup_{n}gram_char_frac"
                grams = list(zip(*[ws[i:] for i in range(n)]))
                if grams and wchars:
                    c = Counter(grams)
                    covered = [False] * len(ws)
                    for j, g in enumerate(grams):
                        if c[g] >= 2:
                            for t in range(j, j + n):
                                covered[t] = True
                    sig[key] = (
                        sum(len(w) for w, cov in zip(ws, covered) if cov)
                        / wchars
                    )
                else:
                    sig[key] = 0.0
            keep = all(sig[k] <= thr[k] for k in sig_names)
            rows.append(tuple(sig[k] for k in sig_names) + (keep,))
        return pd.DataFrame(rows, columns=sig_names + ["keep"])

    schema = (
        "struct<"
        + ",".join(f"{k}:double" for k in sig_names)
        + ",keep:boolean>"
    )
    prof = F.pandas_udf(_prof, schema)(F.col(text_col))
    return (
        rebalance(df.select(id_col, text_col))
        .select(F.col(id_col), prof.alias("_g"))
        .select(id_col, "_g.*")
    )
