"""Single-process, Spark-free oracle (FIXTURES.md §4, SURVEY.md §5.2).

Recomputes tokenize -> postings -> docstats -> BM25 -> PageRank -> blend
-> top-k with plain Python dicts + math, deliberately simple. The engine's
distributed results must be rank-identical to this (doc IDs exact, scores
to 1e-9, tie-break blended DESC then doc_id ASC).

Shares only the *scalar* definitions with the engine (textprep extraction
/ stemming — themselves verified byte-identical against the compiled
reference Java — the bm25 formulas, and PageRank's fixed-point constants);
everything distributed (shuffles, joins, aggregation order) is re-derived
independently.

Float determinism: per-(query,doc) BM25 folds per-term scores in sorted-
term order — the exact summation sequence the engine's sort_array +
aggregate fold performs. PageRank runs the engine's exact int64 fixed-point
rule, so its ranks equal the engine's bit for bit (``==``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .bm25 import W_PAGERANK, W_RELEVANCE, W_TITLE, bm25
from .pagerank import PR_BASE_U, PR_ONE_U, PR_SCALE
from .query import parse_query
from .textprep import (
    doc_term_stats,
    extract_text_title,
    extract_text_titlep_lower,
    java_tokens,
    stem_tokens,
)
from .xxhash64 import spark_xxhash64_str


@dataclass
class OracleIndex:
    n_docs: int = 0
    avgdl: float = 0.0
    doc_len: dict[int, int] = field(default_factory=dict)
    doc_url: dict[int, str] = field(default_factory=dict)
    postings: dict[str, dict[int, int]] = field(default_factory=dict)  # term -> doc -> tf
    title_terms: dict[str, set[int]] = field(default_factory=dict)
    anchor_terms: dict[str, set[int]] = field(default_factory=dict)
    links: dict[int, list[int]] = field(default_factory=dict)  # src -> dst list
    pagerank: dict[int, float] = field(default_factory=dict)


def build_oracle_index(
    pages: list[dict], edges: list[tuple[str, str]] | None = None
) -> OracleIndex:
    """pages: dicts with url/html/text keys (html bytes or str)."""
    idx = OracleIndex()
    total_len = 0
    for p in pages:
        url = p["url"]
        doc_id = spark_xxhash64_str(url)
        html = p["html"]
        if isinstance(html, (bytes, bytearray)):
            html = bytes(html).decode("utf-8", errors="replace")
        idx.doc_url[doc_id] = url
        # scoring pipeline (TF_IDF title+p, lowercased)
        text = extract_text_titlep_lower(html)
        terms, tfs, _pos, dlen, _mtf = doc_term_stats(text)
        idx.doc_len[doc_id] = dlen
        total_len += dlen
        for t, tf in zip(terms, tfs):
            idx.postings.setdefault(t, {})[doc_id] = tf
        # title pipeline (Indexer: raw tokens of title extraction, stemmed)
        title_text = p.get("text")
        if title_text is None:
            title_text = extract_text_title(html)
        for t in set(stem_tokens(java_tokens(title_text, max_len=1 << 30))):
            idx.title_terms.setdefault(t, set()).add(doc_id)
        # anchor pipeline: each link's anchor text indexes under the
        # link's TARGET (anchors.anchor_occurrences twin)
        from .anchors import extract_anchors
        from .pagerank import normalize_url

        for raw, text in extract_anchors(html):
            norm = normalize_url(raw, url)
            if norm is None:
                continue
            dst = spark_xxhash64_str(norm)
            for t in set(stem_tokens(java_tokens(text, max_len=1 << 30))):
                idx.anchor_terms.setdefault(t, set()).add(dst)
    idx.n_docs = len(pages)
    idx.avgdl = total_len / idx.n_docs if idx.n_docs else 0.0
    if edges:
        url_to_id = {u: d for d, u in idx.doc_url.items()}
        for src, dst in edges:
            s, d = url_to_id.get(src), url_to_id.get(dst)
            if s is not None and d is not None:
                idx.links.setdefault(s, []).append(d)
    return idx


def oracle_pagerank(
    idx: OracleIndex, threshold: float = 1e-4, max_iter: int = 200
) -> dict[int, float]:
    """Reference math (jobs/PageRank.java) in the engine's int64 fixed
    point (u = rank * PR_SCALE): init 1.0; per iteration each node passes
    floor(17*u / (20*outdeg)) to each out-link (duplicates count);
    new = sum(incoming from corpus nodes) + 0.15; stop at integer
    L-inf <= threshold * PR_SCALE. Contributions to docs outside the
    corpus are dropped (the reference's join against the state table,
    PageRank.java:99-100). Python ints never overflow, so this is also
    the reference for the engine's overflow-free share spelling."""
    u = dict.fromkeys(idx.doc_url, PR_ONE_U)
    for _ in range(max_iter):
        new = dict.fromkeys(u, PR_BASE_U)
        for src, dsts in idx.links.items():
            if not dsts:
                continue
            share = 17 * u[src] // (20 * len(dsts))
            for dst in dsts:
                new[dst] += share
        delta = max(abs(new[d] - u[d]) for d in u)
        u = new
        if delta <= threshold * PR_SCALE:
            break
    idx.pagerank = {d: float(v) / float(PR_SCALE) for d, v in u.items()}
    return idx.pagerank


def _bm25_term(idx: OracleIndex, term: str, doc_id: int) -> float:
    return bm25(
        idx.postings[term][doc_id],
        idx.doc_len[doc_id],
        idx.avgdl,
        idx.n_docs,
        len(idx.postings[term]),
    )


def oracle_topk(
    idx: OracleIndex, query: str, mode: str = "OR", k: int = 15,
    w_anchor: float = 0.0,
) -> list[dict]:
    """Top-k (rank, doc_id, bm25, blended) for one query."""
    terms = parse_query(query)
    present = [t for t in terms if t in idx.postings]
    if mode == "AND":
        if len(present) != len(terms) or not terms:
            return []
        cands: set[int] = set(idx.postings[present[0]])
        for t in present[1:]:
            cands &= set(idx.postings[t])
    else:
        cands = set()
        for t in present:
            cands |= set(idx.postings[t])
    results = []
    for d in cands:
        bm25 = 0.0
        for t in sorted(present):
            if d in idx.postings[t]:
                bm25 += _bm25_term(idx, t, d)
        title_hit = 1.0 if any(d in idx.title_terms.get(t, ()) for t in terms) else 0.0
        pr = idx.pagerank.get(d, 0.0)
        blended = W_PAGERANK * pr + W_TITLE * title_hit + W_RELEVANCE * bm25
        if w_anchor != 0.0:
            anchor_hit = (
                1.0
                if any(d in idx.anchor_terms.get(t, ()) for t in terms)
                else 0.0
            )
            blended = blended + w_anchor * anchor_hit
        results.append({"doc_id": d, "bm25": bm25, "blended": blended})
    results.sort(key=lambda r: (-r["blended"], r["doc_id"]))
    out = []
    for rank, r in enumerate(results[:k], start=1):
        out.append({"rank": rank, **r})
    return out


def oracle_all_queries(
    idx: OracleIndex, queries: list[dict], w_anchor: float = 0.0
) -> list[dict]:
    rows = []
    for q in queries:
        for r in oracle_topk(
            idx, q["query"], q.get("mode", "OR"), int(q.get("k", 15)),
            w_anchor=w_anchor,
        ):
            rows.append({"query_id": q["query_id"], **r})
    return rows
