"""Seeded inputs and their oracle answers.

Everything here is a pure function of its arguments: the same seed gives
the same query stream and the same ingest delta. Expected answers come
from :mod:`searchengine_spark.oracle`, the engine's single-process
reference.
"""

from __future__ import annotations

import math
import random

from searchengine_spark import corpus, oracle
from searchengine_spark.query import parse_query
from searchengine_spark.textprep import (
    doc_term_stats,
    extract_text_titlep_lower,
    java_tokens,
)

K = 15  # results per page
DEPTH = 2 * K  # the pool stores two pages of each answer

# Zipf bands over corpus.VOCAB, which is in frequency-rank order
BANDS = {
    "head": corpus.VOCAB[:50],
    "mid": corpus.VOCAB[50:500],
    "rare": corpus.VOCAB[2000:] + list(corpus.PLANTED),
}

# One block of the stream: twenty (mode, term bands) slots in a fixed
# order -- OR 60%, AND 25%, PHRASE 5%, exclusion 10% -- so that every
# run sends requests of the same shapes in the same order and the seed
# only picks the words; two fixed slots ask for the second page.
BLOCK = [
    ("OR", ("head",)), ("AND", ("head", "mid")), ("OR", ("mid",)),
    ("EXCL", ("mid",)), ("OR", ("rare",)), ("AND", ("mid", "mid")),
    ("OR", ("head", "mid")), ("PHRASE", ()), ("OR", ("mid", "rare")),
    ("AND", ("head", "head")), ("OR", ("head", "mid", "rare")), ("OR", ("mid",)),
    ("EXCL", ("head", "rare")), ("OR", ("rare", "rare")), ("AND", ("mid", "mid", "head")),
    ("OR", ("head",)), ("OR", ("mid", "mid")), ("AND", ("head", "mid")),
    ("OR", ("rare",)), ("OR", ("head", "rare")),
]
SECOND_PAGE_SLOTS = (2, 13)
PER_SLOT = 8  # pool queries per slot


def make_pool(pages: list[dict], idx: oracle.OracleIndex) -> list[dict]:
    """:data:`PER_SLOT` queries per :data:`BLOCK` slot, with their
    expected top-``DEPTH`` answers over ``idx``.

    ``pages`` are the rendered pages of ``idx`` (phrases are drawn from
    their text, and phrase containment is checked on it)."""
    rng = random.Random("pool")
    pool: list[dict] = []
    for slot, (mode, bands) in enumerate(BLOCK):
        for _ in range(PER_SLOT):
            words = " ".join(rng.choice(BANDS[b]) for b in bands)
            if mode == "PHRASE":
                q, expected = _phrase(rng, pages, idx)
            elif mode == "EXCL":
                neg = rng.choice(BANDS["head"])
                q, expected = f"{words} -{neg}", _excluded(idx, words, neg)
            else:
                q, expected = words, ranked(idx, words, mode)
            pool.append({"slot": slot, "query": q, "mode": mode, "expected": expected})
    return pool


def ranked(idx, query: str, mode: str, depth: int = DEPTH) -> list[list]:
    rows = oracle.oracle_topk(idx, query, mode, depth)
    return [[r["doc_id"], r["blended"]] for r in rows]


def _excluded(idx, pos: str, neg: str) -> list[list]:
    """Oracle order with every doc holding an excluded term removed
    before the cut (the engine drops them before top-k)."""
    banned = set()
    for t in parse_query(neg):
        banned |= set(idx.postings.get(t, ()))
    full = oracle.oracle_topk(idx, pos, "OR", 1 << 30)
    kept = [r for r in full if r["doc_id"] not in banned]
    return [[r["doc_id"], r["blended"]] for r in kept[:DEPTH]]


def _phrase(rng: random.Random, pages: list[dict], idx) -> tuple[str, list[list]]:
    """A two-word phrase taken from a page's scoring text, and the oracle
    AND order restricted to docs where the stemmed words are adjacent."""
    while True:
        page = rng.choice(pages)
        toks = java_tokens(extract_text_titlep_lower(_html(page)))
        if len(toks) < 2:
            continue
        i = rng.randrange(len(toks) - 1)
        pair = toks[i:i + 2]
        stems = parse_query(" ".join(pair))
        if len(stems) != 2:
            continue  # a repeated stem is not a two-slot phrase
        break
    query = " ".join(pair)
    full = oracle.oracle_topk(idx, query, "AND", 1 << 30)
    by_url = {p["url"]: p for p in pages}
    kept = [r for r in full
            if _has_phrase(_html(by_url[idx.doc_url[r["doc_id"]]]), stems)]
    return query, [[r["doc_id"], r["blended"]] for r in kept[:DEPTH]]


def _has_phrase(html: str, stems: list[str]) -> bool:
    terms, _tfs, positions, _dl, _mtf = doc_term_stats(extract_text_titlep_lower(html))
    pos = dict(zip(terms, positions))
    first, second = set(pos.get(stems[0], ())), set(pos.get(stems[1], ()))
    return any(p + 1 in second for p in first)


def _html(page: dict) -> str:
    h = page["html"]
    return bytes(h).decode("utf-8", "replace") if isinstance(h, (bytes, bytearray)) else h


def stream(pool: list[dict], seed: int, n: int) -> list[dict]:
    """``n`` requests: repeated :data:`BLOCK`s, each slot filled with a
    seeded pool query of that slot."""
    rng = random.Random(f"stream:{seed}")
    by_slot: dict[int, list[int]] = {}
    for i, q in enumerate(pool):
        by_slot.setdefault(q["slot"], []).append(i)
    out: list[dict] = []
    while len(out) < n:
        for slot in range(len(BLOCK)):
            out.append({"pool": rng.choice(by_slot[slot]),
                        "offset": K if slot in SECOND_PAGE_SLOTS else 0})
    return out[:n]


def request_params(q: dict, offset: int) -> dict:
    """Query-string parameters of the ``/api/search`` route."""
    mode = "OR" if q["mode"] == "EXCL" else q["mode"]
    return {"query": q["query"], "mode": mode, "offset": offset, "limit": K}


def check(results: list[dict], expected: list[list], offset: int, url_to_id: dict) -> bool:
    """Rank identity: doc ids exact and blended scores within 1e-9."""
    want = expected[offset:offset + K]
    if len(results) != len(want):
        return False
    for r, (doc_id, blended) in zip(results, want):
        if url_to_id.get(r["url"]) != doc_id:
            return False
        if not math.isclose(r["blended"], blended, rel_tol=0.0, abs_tol=1e-9):
            return False
    return True


# ---------------------------------------------------------------------------
# build_ingest corpus: a universe of page ids split into base and delta
# ---------------------------------------------------------------------------

def delta_ids(seed: int, universe: int, n_delta: int) -> list[int]:
    """Page ids that arrive as the ingest delta. The hub, its
    authorities and the planted sink/self-link/triangle stay in the base
    so the base link graph keeps its shape."""
    rng = random.Random(f"delta:{seed}")
    return sorted(rng.sample(range(11, universe - 6), n_delta))


def page_records(pages: list[dict]) -> list[tuple]:
    """Per-page oracle facts, assembled later for any subset of pages:
    (doc_id, url, doc_len, {term: tf}, [title terms])."""
    recs = []
    for p in pages:
        one = oracle.build_oracle_index([p])
        (doc_id, url), = one.doc_url.items()
        tfs = {t: d[doc_id] for t, d in one.postings.items()}
        recs.append((doc_id, url, one.doc_len[doc_id], tfs, sorted(one.title_terms)))
    return recs


def assemble(records: list[tuple], links: dict[int, list[int]] | None = None) -> oracle.OracleIndex:
    """OracleIndex over ``records``; ``links`` maps doc id -> out-link
    doc ids (used only for PageRank)."""
    idx = oracle.OracleIndex()
    total = 0
    for doc_id, url, dl, tfs, titles in records:
        idx.doc_url[doc_id] = url
        idx.doc_len[doc_id] = dl
        total += dl
        for t, tf in tfs.items():
            idx.postings.setdefault(t, {})[doc_id] = tf
        for t in titles:
            idx.title_terms.setdefault(t, set()).add(doc_id)
    idx.n_docs = len(records)
    idx.avgdl = total / idx.n_docs if idx.n_docs else 0.0
    if links:
        idx.links = {s: [d for d in ds if d in idx.doc_url] for s, ds in links.items()
                     if s in idx.doc_url}
    return idx
