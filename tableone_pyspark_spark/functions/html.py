"""HTML → training text extraction — the step in front of every web
corpus (C4/CCNet/RefinedWeb all start from fetched HTML, not clean
text): drop script/style/comments, keep block structure as line
breaks, strip tags, decode entities, collapse whitespace, and report
the structural signals (title, link count, tag count) quality
filters consume.

Parsing stance: LENIENT, single linear scan, never raises — malformed
HTML is the NORMAL case on the web (unclosed tags, stray ``<``,
orphan close tags), and a page that fails to parse should become
low-quality text, not a dead batch. This is the opposite of the codec
contract (where a corrupt payload is a data-integrity signal) and
mirrors what browsers do. A stray ``<`` that does not open a real tag
is kept as text (the browser rule); an unclosed ``<script>`` swallows
to end-of-document (ditto).

This is deliberately a STRUCTURAL extractor, not a boilerplate
classifier: it yields every text node with block-level line
structure, and the corpus-level boilerplate judgments (nav/footer
removal, main-content detection) belong to the line/paragraph
filters downstream (``functions/text.c4_clean`` already drops short/
unterminated/javascript lines — exactly the C4 composition). A
density-based readability pass would slot in behind the same column
signature.

Shape: one Arrow-batched scalar projection (struct out) — row-local,
zero shuffle, linear in document size.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tags that terminate a text line when rendered (block-level + br)
_BLOCK = {
    "address", "article", "aside", "blockquote", "br", "dd", "div",
    "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "li", "main",
    "nav", "ol", "p", "pre", "section", "table", "td", "th", "tr",
    "ul",
}

_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9]*")

#: ASCII-only lowercase map — LENGTH-PRESERVING, unlike str.lower()
#: (U+0130 'İ' lowercases to two chars, shifting every later index),
#: so offsets computed in ``s`` stay valid in the lowered copy; tag
#: names are ASCII so case-insensitivity needs nothing more
_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)

HTML_EXTRACT_SCHEMA = (
    "title string, text string, n_links int, n_tags int"
)


def html_extract_py(doc: str | None):
    """Python twin of :func:`html_extract` (single source of truth).
    Returns (title, text, n_links, n_tags); None for NULL input."""
    if doc is None:
        return None
    s = doc
    low = s.translate(_ASCII_LOWER)  # ASCII-only: length-preserving
    n = len(s)
    out: list[str] = []
    title: str | None = None
    n_links = 0
    n_tags = 0
    i = 0
    while i < n:
        lt = s.find("<", i)
        if lt < 0:
            out.append(s[i:])
            break
        out.append(s[i:lt])
        if s.startswith("<!--", lt):
            end = s.find("-->", lt + 4)
            i = n if end < 0 else end + 3
            continue
        if lt + 1 < n and s[lt + 1] in "!?":
            # <!DOCTYPE ...> / <?xml ...?>: markup, never text
            gt = s.find(">", lt + 1)
            i = n if gt < 0 else gt + 1
            continue
        gt = s.find(">", lt + 1)
        if gt < 0:
            # EOF inside "<...": a tag-like start is DISCARDED (the
            # browser eof-in-tag rule), a stray "<" stays text
            rest = s[lt + 1 :]
            if not _NAME_RE.match(rest[1:] if rest.startswith("/") else rest):
                out.append(s[lt:])
            break
        body = s[lt + 1 : gt]
        i = gt + 1
        closing = body.startswith("/")
        raw = body[1:] if closing else body
        m = _NAME_RE.match(raw)
        if not m:
            # "<3", "< x": browsers render the stray < as text
            out.append(s[lt : gt + 1])
            continue
        name = m.group(0).lower()
        n_tags += 1
        self_closing = body.rstrip().endswith("/")
        if not closing and not self_closing and name in (
            "script", "style", "title",
        ):
            # RAWTEXT/RCDATA elements (the HTML5 tokenizer rule):
            # their content is NOT markup — a bare '<', an '<!--', or
            # 'i < n' inside a script must never re-enter the tag
            # scanner (self-review r9: generic scanning here swallowed
            # the closer and dropped the rest of the document). Only
            # the literal matching end tag terminates them; at EOF the
            # element swallows the remainder (the browser rule).
            close = low.find("</" + name, i)
            content = s[i : close if close >= 0 else n]
            if close < 0:
                i = n
            else:
                cgt = s.find(">", close)
                i = n if cgt < 0 else cgt + 1
                n_tags += 1
            if name == "title" and title is None:
                title = " ".join(_html.unescape(content).split()) or None
            continue
        if name == "a" and not closing:
            n_links += 1
        if name in _BLOCK:
            out.append("\n")
    text = _html.unescape("".join(out))
    lines = [" ".join(ln.split()) for ln in text.split("\n")]
    text = "\n".join(ln for ln in lines if ln)
    return (title, text, n_links, n_tags)


def html_extract(c: Column) -> Column:
    """Struct(title, text, n_links, n_tags) from an HTML column —
    lenient linear extraction, one Arrow batch kernel."""

    @F.pandas_udf(HTML_EXTRACT_SCHEMA)
    def kernel(s: pd.Series) -> pd.DataFrame:
        rows = [
            (None, None, None, None) if r is None else html_extract_py(r)
            for r in s
        ]
        return pd.DataFrame(
            rows, columns=["title", "text", "n_links", "n_tags"]
        )

    return kernel(c)
