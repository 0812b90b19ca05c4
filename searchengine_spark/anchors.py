"""Inbound anchor-text index — the classic web-ranking signal the
reference stops short of: its blend uses pagerank + title + bm25
(``Mainpage.java:88-105``), while web search since Brin/Page 1998 §2.2
also indexes each link's anchor text under the link's TARGET. This
module adds that third document field as an optional, default-off blend
component (``score_exhaustive(w_anchor=...)``): with ``w_anchor=0`` the
serving pipeline is plan- and bit-identical to the reference parity
path.

Built from the same href extraction + URL normalization as the
PageRank edge stage (``pagerank.extract_hrefs`` / ``normalize_url``),
so the link graph and the anchor field can never disagree on which
link points where. Anchor tokens run the title pipeline (java_tokens →
stem → set per anchor), so query terms match both fields consistently.

Scale shape: one corpus pass (Arrow-batched mapInPandas, the
edge-extraction kernel with a tokenizer bolted on), one (doc_id, term)
hash agg — the output is bounded by total anchor tokens, far below the
token table. Candidate semantics are untouched: the anchor weight
reorders docs that already match the query in the body (anchor-only
docs never enter the candidate set, preserving the reference's AND/OR
semantics and the rank-identity oracle).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog, checkpoint
from .pagerank import _RE_HREF, normalize_url
from .textprep import java_tokens, stem_tokens

_RE_A_CLOSE = re.compile(r"</a>", re.IGNORECASE)

# one row per inbound anchor occurrence: anchor_index less n_anchors
ANCHOR_SCHEMA = catalog.schema(catalog.ANCHOR_INDEX, drop=("n_anchors",))


def extract_anchors(page: str) -> list[tuple[str, str]]:
    """(href, anchor_text) pairs, one per ``pagerank.extract_hrefs``
    link: the same href matches (``_RE_HREF``) and the same
    #fragment/empty rule, so the anchor field credits exactly the edge
    targets. The text runs from the end of the link's tag to the next
    ``</a>``; a link with no closing tag has no text."""
    out = []
    for m in _RE_HREF.finditer(page):
        u = m.group(1)
        if u.startswith("#") or not u.strip():
            continue
        start = page.find(">", m.end()) + 1
        close = _RE_A_CLOSE.search(page, start) if start else None
        out.append((u, page[start:close.start()] if close else ""))
    return out


def anchor_occurrences(pages: DataFrame) -> DataFrame:
    """pages(url, html) -> one row per (target doc_id, stemmed term,
    inbound anchor occurrence): term set PER ANCHOR (title-pipeline
    tokenization), duplicates across anchors kept so the downstream
    count means 'number of inbound anchors containing the term'."""
    from .xxhash64 import spark_xxhash64_str

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dsts: list[int] = []
            terms: list[str] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                page = bytes(html).decode("utf-8", errors="replace")
                for raw, text in extract_anchors(page):
                    norm = normalize_url(raw, url)
                    if norm is None:
                        continue
                    dst = spark_xxhash64_str(norm)
                    for t in set(
                        stem_tokens(java_tokens(text, max_len=1 << 30))
                    ):
                        dsts.append(dst)
                        terms.append(t)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(dsts, dtype="int64"),
                    "term": pd.Series(terms, dtype="object"),
                }
            )

    return pages.select("url", "html").mapInPandas(kernel, ANCHOR_SCHEMA)


def anchor_terms(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """(doc_id, term, n_anchors) aggregated anchor field."""
    return (
        anchor_occurrences(pages)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("n_anchors"))
    )


def build_anchor_stage(
    spark: SparkSession, pages_path: str, root: str, build_id: str
) -> None:
    """Resumable stage writing ``anchor_index/`` (doc_id, term,
    n_anchors), mirroring ``build_pagerank_stage``'s checkpoint
    discipline."""
    from .indexer import ingest

    # content= folds the pages tree manifest (mirrors title_index's v=2
    # fingerprint): lineage completion keys on (stage, fingerprint)
    # regardless of build_id, so a PATH-only fingerprint would skip the
    # refresh forever when new pages land at the same path (the exact
    # streaming-ingest scenario) and serve a permanently stale anchor
    # field.
    fp = checkpoint.fingerprint(
        stage="anchors", pages=pages_path,
        content=catalog.content_fingerprint(pages_path), v=2,
    )

    def run(_pid: int) -> tuple[str, int, int]:
        pages = ingest(spark, pages_path)
        out = catalog.path(root, catalog.ANCHOR_INDEX)
        anchor_terms(spark, pages).write.mode("overwrite").parquet(out)
        return (out, *catalog.parquet_rows_bytes(out))

    checkpoint.run_partitioned_stage(root, build_id, "anchors", [0], fp, run)
