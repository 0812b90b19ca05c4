"""Text extraction + tokenization, byte-identical to the reference.

The reference's extraction pipeline (Java) is:

* ``Indexer.extractVisibleText`` (``jobs/Indexer.java:76-110``): strip
  ``<script>``/``<style>`` blocks (DOTALL, non-greedy), then concatenate
  ``<title>(.*?)</title>`` captures, each followed by one space.
* ``Indexer.removeTagsAndPunctuation`` (``jobs/Indexer.java:70-74``):
  the above, then ``<[^>]*>`` -> " ", then ``[^a-zA-Z0-9\\s]`` -> " ".
* ``TF_IDF.removeHTMLTagsAndPunctuation`` (``jobs/TF_IDF.java:167-206``):
  identical but captures both ``<title>`` and ``<p>`` blocks (title
  matches first, then p matches), and its caller lowercases
  (``jobs/TF_IDF.java:62``).
* Tokenization: ``trim().split("\\s+")`` (``jobs/TF_IDF.java:69``),
  tokens longer than 100 chars dropped (``jobs/TF_IDF.java:70-71``),
  each token Porter-stemmed.

Java ``\\s`` is ASCII-only ``[ \\t\\n\\x0B\\f\\r]``; Python ``\\s`` is
Unicode — so the character classes below are spelled out explicitly.
Java ``trim()`` strips all chars <= U+0020. Byte-identity is asserted
against goldens generated from the compiled reference classes
(``tests/test_textprep.py``). Known divergence: Java replaces a non-BMP
character with two spaces (surrogate pair), Python with one; the corpus
contract (FIXTURES.md) is BMP-only, and tokenization is insensitive to
run-length of whitespace.

All entry points are Arrow-vectorized (pandas Series in/out) — no
per-row Python UDFs anywhere (input_hint).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from .porter import porter_stem

_JAVA_WS = " \t\n\x0b\f\r"
_RE_SCRIPT = re.compile(r"(?s)<script.*?</script>")
_RE_STYLE = re.compile(r"(?s)<style.*?</style>")
_RE_TITLE = re.compile(r"(?s)<title>(.*?)</title>")
_RE_P = re.compile(r"(?s)<p>(.*?)</p>")
_RE_TAG = re.compile(r"<[^>]*>")
_RE_NONWORD = re.compile(r"[^a-zA-Z0-9 \t\n\x0b\f\r]")
_RE_WS_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")
_JAVA_TRIM_CHARS = "".join(chr(c) for c in range(0x21))


def java_trim(s: str) -> str:
    """Java String.trim(): strip leading/trailing chars <= U+0020."""
    return s.strip(_JAVA_TRIM_CHARS)


def extract_visible_text(content: str, include_p: bool = False) -> str:
    """Reference ``extractVisibleText``: title (and optionally <p>) captures."""
    content = _RE_SCRIPT.sub("", content)
    content = _RE_STYLE.sub("", content)
    parts: list[str] = []
    for m in _RE_TITLE.finditer(content):
        parts.append(m.group(1))
        parts.append(" ")
    if include_p:
        for m in _RE_P.finditer(content):
            parts.append(m.group(1))
            parts.append(" ")
    return "".join(parts)


def remove_tags_and_punctuation(content: str, include_p: bool = False) -> str:
    """Reference ``removeTagsAndPunctuation`` — the byte-identity anchor."""
    text = extract_visible_text(content, include_p=include_p)
    text = _RE_TAG.sub(" ", text)
    return _RE_NONWORD.sub(" ", text)


def extract_text_title(content: str) -> str:
    """Canonical per-url extracted text (Indexer title-only pipeline)."""
    return remove_tags_and_punctuation(content, include_p=False)


def extract_text_titlep_lower(content: str) -> str:
    """Scoring-pipeline text (TF_IDF title+p pipeline, lowercased)."""
    return remove_tags_and_punctuation(content, include_p=True).lower()


def java_tokens(text: str, max_len: int = 100) -> list[str]:
    """``trim().split("\\s+")`` with the reference's >100-char drop."""
    trimmed = java_trim(text)
    if not trimmed:
        return []
    return [t for t in _RE_WS_SPLIT.split(trimmed) if len(t) <= max_len]


def stem_tokens(tokens: list[str]) -> list[str]:
    return [porter_stem(t) for t in tokens]


# ---------------------------------------------------------------------------
# Arrow-vectorized wrappers (Series -> Series), used by pandas_udf callers.
# ---------------------------------------------------------------------------

def _decode(html: object) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        return bytes(html).decode("utf-8", errors="replace")
    return str(html)


def extract_titlep_lower_series(html: pd.Series) -> pd.Series:
    return html.map(lambda h: extract_text_titlep_lower(_decode(h)))


def doc_term_stats(text: str) -> tuple[list[str], list[int], list[list[int]], int, int]:
    """One scoring-pipeline pass over extracted text.

    Returns (terms, tfs, positions, doc_len, max_tf) where positions are
    0-based token offsets, terms sorted ascending for deterministic
    downstream order.
    """
    toks = stem_tokens(java_tokens(text))
    counts: dict[str, int] = {}
    positions: dict[str, list[int]] = {}
    for pos, t in enumerate(toks):
        counts[t] = counts.get(t, 0) + 1
        positions.setdefault(t, []).append(pos)
    if not counts:
        return [], [], [], 0, 0
    terms = sorted(counts)
    tfs = [counts[t] for t in terms]
    poss = [positions[t] for t in terms]
    return terms, tfs, poss, len(toks), max(tfs)


def tokenize_partition(
    batches: Iterator[pd.DataFrame],
    doc_id_col: str,
    text_col: str,
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: docs -> exploded (doc_id, term, tf, positions,
    doc_len, max_tf) rows. Vectorized at the Arrow-batch level; the inner
    loop is pure-Python string work amortized by the stemmer memo cache.
    """
    for pdf in batches:
        out_doc, out_term, out_tf, out_pos, out_len, out_max = [], [], [], [], [], []
        for doc_id, text in zip(pdf[doc_id_col], pdf[text_col]):
            terms, tfs, poss, dlen, mtf = doc_term_stats(text or "")
            n = len(terms)
            out_doc.extend([doc_id] * n)
            out_term.extend(terms)
            out_tf.extend(tfs)
            out_pos.extend(poss)
            out_len.extend([dlen] * n)
            out_max.extend([mtf] * n)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "term": pd.Series(out_term, dtype="object"),
                "tf": pd.Series(out_tf, dtype="int32"),
                "positions": pd.Series(out_pos, dtype="object"),
                "doc_len": pd.Series(out_len, dtype="int32"),
                "max_tf": pd.Series(out_max, dtype="int32"),
            }
        )
