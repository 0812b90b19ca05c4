"""Block-max WAND top-k over the compressed posting segments.

The scale path for query serving (north_rule: "top-k conjunctive /
disjunctive keyword queries via posting-list intersection with
block-max WAND pruning"). The reference frontend scores every candidate
of every term (``frontend/Mainpage.java:63-110``); WAND visits only
documents that can still enter the top-k.

Physical shape: one bucket-pruned segment scan for all query terms →
broadcast-join the request rows (``query._query_terms_df``, the table
the exhaustive scorer reads) → ``applyInPandas`` grouped by (query_id,
doc range), so each query's WAND runs where its (few) segment rows land
— queries and ranges parallelize across the cluster, posting data never
leaves the executor that read it, and the driver sees only k rows per
query.

Scoring: BM25 with the engine's constants — score(q,d) = Σ_t idf_t ·
(k1+1) · tf_norm where tf_norm = tf/(tf + k1(1-b+b·dl/avgdl)) is
PRE-COMPUTED at build time into the blocks' max metadata
(``indexer.encode_segments``' Arrow kernel, one
``compress.encode_segment`` call per (term, salt) run), so the upper
bounds used for pruning are
exact bounds of the stored scores. Results are rank-identical to the
exhaustive path: same fold order (sorted terms), same tie-break
(score DESC, doc_id ASC) — asserted by tests/test_wand.py.

Salted head terms: salting is by doc-id RANGE (``indexer.salt_expr``),
so a term's salted blobs are doc-range-disjoint and already ordered by
salt — the query-time merge is a pure concatenation of block metadata;
posting bytes are decoded lazily, one block at a time, only when WAND's
cursor actually visits the block (``_LazyTermList``). Skipped blocks
are never decoded: at 100 TB decode/IO dominates, so the pruning must
save bytes, not just float math.

Bounded memory: a query's doc-id space splits into as many equal
ranges as its most-salted term (scoring or exclusion) has salts —
n_salts = ceil(df / target_postings), read in the same driver-side
collect that gives df. Each (query, range) task receives only the
salted blobs overlapping its slice (JVM-side range arithmetic on
(salt, n_salts)), so it holds about two blobs per term at most, and a
query with no salted term runs as one task. A window merges the
range-local top-ks; results are rank-identical to one task per query
(ranges partition the doc space; scores are computed with the same
fold)."""

from __future__ import annotations

import heapq
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .bm25 import K1, tf_norm
from .compress import decode_segment_block
from .query import (
    _query_terms_df,
    all_query_terms,
    load_segments,
    query_mode,
    term_stats,
)


@dataclass
class _TermList:
    """One query term's merged posting list + block metadata (eager,
    fully-decoded reference implementation — tests and the randomized
    harness build these directly; serving uses ``_LazyTermList``)."""

    idf: float
    docs: np.ndarray          # sorted int64 doc ids
    norms: np.ndarray         # float64 tf_norm per posting
    block_last: np.ndarray    # last doc id per block
    block_max: np.ndarray     # max SCORE (idf*(k1+1)*norm) per block
    max_score: float = 0.0
    pos: int = 0              # cursor into docs
    field_order: int = 0

    @property
    def n_postings(self) -> int:
        return len(self.docs)

    def cur_doc(self) -> int:
        return int(self.docs[self.pos]) if self.pos < len(self.docs) else _END

    def advance_to(self, target: int) -> None:
        """Move cursor to first doc >= target (galloping via searchsorted)."""
        if target > _INT64_MAX:
            self.pos = len(self.docs)
            return
        if self.pos < len(self.docs):
            self.pos += int(
                np.searchsorted(self.docs[self.pos:], target, side="left")
            )

    def score_at(self) -> float:
        return self.idf * (K1 + 1.0) * float(self.norms[self.pos])

    def block_of(self, doc: int) -> int:
        return int(np.searchsorted(self.block_last, doc, side="left"))

    def block_ub(self, doc: int) -> float:
        b = self.block_of(doc)
        return float(self.block_max[b]) if b < len(self.block_max) else 0.0

    def block_end(self, doc: int) -> int:
        b = self.block_of(doc)
        return int(self.block_last[b]) if b < len(self.block_last) else _END


# exhausted-cursor sentinel: must exceed every possible doc id; doc ids
# are full-range signed int64 (xxhash64), so use 2^63 (> int64 max).
# Python ints compare fine; numpy never sees this value.
_INT64_MAX = (1 << 63) - 1
_END = (1 << 63)

# stored block maxima are float32 (round-nearest of the true float64
# max, so possibly up to 0.5 ulp BELOW it); inflate by > 2^-24 relative
# so every bound used for pruning is a true upper bound
_F32_UB_INFLATE = 1.0 + 2.0**-22


class _LazyTermList:
    """A term's salt-ordered segment rows as ONE virtual posting list.

    Range salting (``indexer.salt_expr``) makes salted blobs
    doc-range-disjoint and ordered by salt, so the merged block metadata
    is a concatenation — no decode, no re-sort. Posting bytes are
    decoded per block, only when the cursor enters the block
    (``decoded_blocks`` counts them; tests assert skipped blocks stay
    cold). ``lo_doc``/``hi_doc`` restrict the cursor to a doc-id slice
    for range-parallel serving.
    """

    __slots__ = (
        "idf", "field_order", "max_score", "n_postings", "n_blocks",
        "block_last", "_block_ub", "_rows", "_row_of", "_loc_of",
        "_avgdl", "_cb", "_pos", "_docs", "_norms", "_hi_doc",
        "decoded_blocks",
    )

    def __init__(
        self,
        rows: list[dict],
        idf: float,
        avgdl: float,
        lo_doc: int | None = None,
        hi_doc: int | None = None,
        field_order: int = 0,
    ):
        rows = sorted(rows, key=lambda r: r["salt"])
        self.idf = idf
        self.field_order = field_order
        self._avgdl = avgdl
        self._rows = rows
        bl_parts, ub_parts, row_of, loc_of = [], [], [], []
        n_post = 0
        for ri, r in enumerate(rows):
            bl = np.asarray(r["block_last"], dtype=np.int64)
            ub = np.asarray(r["block_max_norm"], dtype=np.float64)
            # maxima computed under an older avgdl stay valid bounds
            # after inflation by avgdl/ref (tf_norm is increasing and
            # at-most-linear in avgdl) — lets incremental merges leave
            # untouched segments un-rewritten when corpus avgdl drifts
            ref = float(r.get("avgdl_ref") or avgdl)
            drift = max(1.0, avgdl / ref) if ref > 0 else 1.0
            bl_parts.append(bl)
            ub_parts.append(ub * drift)
            row_of.extend([ri] * len(bl))
            loc_of.extend(range(len(bl)))
            n_post += int(r["n_postings"])
        self.block_last = (
            np.concatenate(bl_parts) if bl_parts else np.empty(0, dtype=np.int64)
        )
        scale = idf * (K1 + 1.0) * _F32_UB_INFLATE
        self._block_ub = (
            scale * np.concatenate(ub_parts) if ub_parts else np.empty(0)
        )
        self._row_of = row_of
        self._loc_of = loc_of
        self.n_blocks = len(self.block_last)
        self.n_postings = n_post
        self.max_score = float(self._block_ub.max()) if self.n_blocks else 0.0
        self._cb = 0
        self._pos = 0
        self._docs: np.ndarray | None = None
        self._norms: np.ndarray | None = None
        self._hi_doc = _INT64_MAX if hi_doc is None else hi_doc
        self.decoded_blocks = 0
        if lo_doc is not None and lo_doc > -(1 << 63):
            self.advance_to(lo_doc)

    def _ensure(self) -> None:
        if self._docs is None:
            r = self._rows[self._row_of[self._cb]]
            self._docs, tf, dl = decode_segment_block(r, self._loc_of[self._cb])
            self._norms = tf_norm(tf, dl, self._avgdl)
            self.decoded_blocks += 1

    def cur_doc(self) -> int:
        if self._cb >= self.n_blocks:
            return _END
        self._ensure()
        d = int(self._docs[self._pos])
        return d if d <= self._hi_doc else _END

    def advance_to(self, target: int) -> None:
        if target > _INT64_MAX:
            self._cb = self.n_blocks
            self._docs = None
            return
        if self._cb >= self.n_blocks:
            return
        nb = self._cb + int(
            np.searchsorted(self.block_last[self._cb:], target, side="left")
        )
        if nb != self._cb:
            self._cb = nb
            self._docs = None
            self._pos = 0
        if self._cb >= self.n_blocks:
            return
        self._ensure()
        # block_last[cb] >= target, so a match position always exists
        self._pos += int(
            np.searchsorted(self._docs[self._pos:], target, side="left")
        )

    def score_at(self) -> float:
        return self.idf * (K1 + 1.0) * float(self._norms[self._pos])

    def block_of(self, doc: int) -> int:
        return int(np.searchsorted(self.block_last, doc, side="left"))

    def block_ub(self, doc: int) -> float:
        b = self.block_of(doc)
        return float(self._block_ub[b]) if b < self.n_blocks else 0.0

    def block_end(self, doc: int) -> int:
        b = self.block_of(doc)
        return int(self.block_last[b]) if b < self.n_blocks else _END


def merge_salted(
    rows: list[dict],
    idf: float,
    avgdl: float | None = None,
    lo_doc: int | None = None,
    hi_doc: int | None = None,
    field_order: int = 0,
) -> _LazyTermList:
    """Salt-aware merge: wrap a term's segment rows as one lazy virtual
    posting list (concatenated block metadata, per-block decode)."""
    if avgdl is None:
        avgdl = rows[0]["_avgdl"] if rows else 1.0
    return _LazyTermList(
        rows, idf, avgdl, lo_doc=lo_doc, hi_doc=hi_doc, field_order=field_order
    )


def _full_score(terms: list[_TermList], doc: int) -> float:
    """Deterministic fold: per-term scores summed in field_order (sorted
    term name) — the exact order the exhaustive path folds in."""
    parts = []
    for t in terms:
        t.advance_to(doc)
        if t.cur_doc() == doc:
            parts.append((t.field_order, t.score_at()))
    s = 0.0
    for _o, v in sorted(parts):
        s += v
    return s


def _is_excluded(excluded: list, doc: int) -> bool:
    """Deny-list membership via the same monotone cursors the scorer
    uses: each deny list advances only forward, so the total exclusion
    cost over a query is one galloping pass per deny list — the lazy
    backing decodes only blocks the scored candidates actually land in."""
    for t in excluded:
        t.advance_to(doc)
        if t.cur_doc() == doc:
            return True
    return False


def wand_topk(
    terms: list, k: int, mode: str = "OR", excluded: list | None = None
) -> list[tuple[int, float]]:
    """Block-max WAND (OR) / pruned intersection (AND) top-k over any
    cursor implementation (_TermList or _LazyTermList).
    ``excluded``: deny-list cursors — a doc present in ANY of them is
    skipped before scoring (NOT semantics; k fills from survivors).
    Exclusion never loosens the pruning bounds: it only removes
    candidates, so block-max skips remain valid.
    Returns [(doc_id, score)] sorted score DESC, doc_id ASC."""
    if mode == "AND" and any(not t.n_postings for t in terms):
        return []  # a term with no postings empties the conjunction
    terms = [t for t in terms if t.n_postings]
    excluded = [t for t in (excluded or []) if t.n_postings]
    if not terms or k <= 0:
        return []
    if mode == "AND":
        return _and_topk(terms, k, excluded)

    # heap of (score, -doc_id) so the worst kept entry is heap[0]
    heap: list[tuple[float, int]] = []
    theta = -np.inf
    while True:
        live = [t for t in terms if t.cur_doc() < _END]
        if not live:
            break
        live.sort(key=lambda t: (t.cur_doc(), t.field_order))
        # pivot: first prefix whose Σ max_score can still enter the
        # top-k. ">=" not ">": an equal score with a smaller doc_id
        # outranks the kept entry under the total tie-break.
        acc = 0.0
        pivot_i = -1
        for i, t in enumerate(live):
            acc += t.max_score
            if acc >= theta or len(heap) < k:
                pivot_i = i
                break
        if pivot_i < 0:
            break  # nothing can beat theta
        pivot_doc = live[pivot_i].cur_doc()
        # extend the prefix across lists tied at pivot_doc — they
        # contribute to pivot_doc's score, so the block upper bound and
        # the skip advancement must include them
        while (
            pivot_i + 1 < len(live)
            and live[pivot_i + 1].cur_doc() == pivot_doc
        ):
            pivot_i += 1
        if live[0].cur_doc() == pivot_doc:
            # block-max check: refine the upper bound with block maxima
            block_ub = sum(
                t.block_ub(pivot_doc) for t in live[: pivot_i + 1]
            )
            if len(heap) >= k and block_ub < theta:
                # skip: jump past the earliest block boundary, but never
                # past the next list's current doc (it could join the
                # bound for docs inside the skipped range)
                next_doc = min(
                    t.block_end(pivot_doc) for t in live[: pivot_i + 1]
                ) + 1
                if pivot_i + 1 < len(live):
                    next_doc = min(next_doc, live[pivot_i + 1].cur_doc())
                next_doc = max(next_doc, pivot_doc + 1)
                for t in live[: pivot_i + 1]:
                    t.advance_to(next_doc)
                continue
            if excluded and _is_excluded(excluded, pivot_doc):
                for t in live:
                    if t.cur_doc() == pivot_doc:
                        t.advance_to(pivot_doc + 1)
                continue
            s = _full_score(live, pivot_doc)
            entry = (s, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
                if len(heap) == k:
                    theta = heap[0][0]
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
                theta = heap[0][0]
            for t in live:
                if t.cur_doc() == pivot_doc:
                    t.advance_to(pivot_doc + 1)
        else:
            # advance all pre-pivot lists to the pivot doc
            for t in live[:pivot_i]:
                t.advance_to(pivot_doc)
    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-nd, s) for s, nd in out]


def _and_topk(
    terms: list, k: int, excluded: list | None = None
) -> list[tuple[int, float]]:
    """Posting-list intersection (rarest list drives; every list —
    including the driver — advances by galloping, so lazily-backed lists
    decode only the blocks the intersection actually lands in), then
    exact scoring of intersected docs. ``excluded`` deny-lists drop an
    intersected doc before scoring (NOT semantics)."""
    terms = sorted(terms, key=lambda t: t.n_postings)
    driver, rest = terms[0], terms[1:]
    heap: list[tuple[float, int]] = []
    while True:
        doc = driver.cur_doc()
        if doc >= _END:
            break
        ok = True
        blocker = doc
        for t in rest:
            t.advance_to(doc)
            c = t.cur_doc()
            if c != doc:
                ok = False
                if c >= _END:
                    return _heap_sorted(heap)
                blocker = c  # no intersection below this doc
                break
        if ok and excluded and _is_excluded(excluded, doc):
            driver.advance_to(doc + 1)
            continue
        if ok:
            s = _full_score(terms, doc)
            entry = (s, -doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
            driver.advance_to(doc + 1)
        else:
            driver.advance_to(blocker)
    return _heap_sorted(heap)


def _heap_sorted(heap: list[tuple[float, int]]) -> list[tuple[int, float]]:
    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-nd, s) for s, nd in out]


_SEG_COLS = [
    "term", "salt", "n_postings", "doc_blob", "tf_blob", "dl_blob",
    "block_last", "block_max_norm", "doc_boff", "tf_boff", "dl_boff",
    "avgdl_ref",
]


def _range_bounds(rng: int, ranges: int) -> tuple[int, int]:
    """[lo_doc, hi_doc] (signed int64, inclusive) of doc-id range slice
    ``rng`` of ``ranges`` — the same top-32-bit quantile arithmetic as
    the salt."""
    lo_top = -(-(rng << 32) // ranges)          # ceil(rng*2^32 / R)
    hi_top_excl = -(-((rng + 1) << 32) // ranges)
    lo_doc = (lo_top << 32) - (1 << 63)
    hi_doc = (hi_top_excl << 32) - 1 - (1 << 63)
    return lo_doc, min(hi_doc, _INT64_MAX)


_PARTIAL_SCHEMA = "query_id int, doc_id long, bm25 double, k int, off int"


def _range_topk(avgdl: float):
    """The (query, range) kernel: a range-local top-k over the request
    rows that landed in the range — each one segment row joined to a
    ``query._query_terms_df`` row."""

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid, rng = int(key[0]), int(key[1])
        req = pdf.iloc[0]
        lo_doc, hi_doc = _range_bounds(rng, int(req["ranges"]))
        by_term: dict[tuple[int, str], list[dict]] = {}
        for r in pdf.to_dict("records"):
            by_term.setdefault((r["deny"], r["term"]), []).append(r)
        scoring = sorted(t for d, t in by_term if not d)
        excluded = sorted(t for d, t in by_term if d)
        # AND needs every term in the range: a term that has no blob
        # overlapping it (or no postings at all) empties the slice
        if req["mode"] == "AND" and len(scoring) < req["n_terms"]:
            scoring = []
        tls = [
            merge_salted(
                by_term[0, t], by_term[0, t][0]["idf"], avgdl,
                lo_doc=lo_doc, hi_doc=hi_doc, field_order=order,
            )
            for order, t in enumerate(scoring)
        ]
        deny = [
            merge_salted(by_term[1, t], 0.0, avgdl, lo_doc=lo_doc, hi_doc=hi_doc)
            for t in excluded
        ]
        hits = wand_topk(tls, int(req["k"]), req["mode"], excluded=deny)
        return pd.DataFrame(
            {
                "query_id": pd.Series([qid] * len(hits), dtype="int32"),
                "doc_id": pd.Series([d for d, _ in hits], dtype="int64"),
                "bm25": pd.Series([s for _, s in hits], dtype="float64"),
                "k": pd.Series([req["k"]] * len(hits), dtype="int32"),
                "off": pd.Series([req["off"]] * len(hits), dtype="int32"),
            }
        )

    return kernel


def score_wand(spark: SparkSession, root: str, queries: list[dict]) -> DataFrame:
    """Distributed WAND: (query_id, rank, doc_id, bm25) for every query.
    Pure-BM25 ranking (tie doc_id ASC); the blend path stays in
    ``query.score_exhaustive``. A query is ``{query_id, query, mode, k,
    offset, exclude}`` as there, with ``mode`` OR or AND; ranks
    ``offset+1 .. offset+k`` are kept.

    Each query runs as ``ranges`` (query, doc-range) tasks, the most
    salts any of its terms has (``query._query_terms_df``): each task
    receives only the salted blobs overlapping its slice (range salting
    makes a blob's doc interval a pure function of (salt, n_salts), so
    the overlap set is computed JVM-side), WANDs a range-local top-k,
    and a window merges the partials — rank-identical to one task per
    query."""
    from .indexer import read_stats

    for q in queries:
        query_mode(q, ("OR", "AND"))
    n_docs, avgdl = read_stats(spark, root)
    terms = all_query_terms(queries)
    qt = _query_terms_df(spark, queries, term_stats(spark, root, terms, n_docs))
    # deny-list segments ride the same bucket-pruned scan and per-query
    # routing as the scoring terms; the kernel splits them back apart
    segs = load_segments(spark, root, terms).select(*_SEG_COLS, "n_salts")
    # blob (salt, n_salts) covers top-32 interval
    # [ceil(salt*2^32/n_salts), ceil((salt+1)*2^32/n_salts) - 1]; the
    # row goes to every range slice of its query that it overlaps
    lo_top = F.expr("(salt * 4294967296L + n_salts - 1) div n_salts")
    hi_top = F.expr("((salt + 1) * 4294967296L + n_salts - 1) div n_salts - 1")
    rng = F.sequence(
        F.shiftright(lo_top * F.col("ranges"), 32).cast("int"),
        F.shiftright(hi_top * F.col("ranges"), 32).cast("int"),
    )
    partial = (
        segs.join(F.broadcast(qt), "term")
        .withColumn("rng", F.explode(rng))
        .drop("n_salts")
        .groupBy("query_id", "rng")
        .applyInPandas(_range_topk(avgdl), _PARTIAL_SCHEMA)
    )
    # merge range-local top-ks under the same total tie-break
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter((F.col("rank") > F.col("off")) & (F.col("rank") <= F.col("k")))
        .select("query_id", "rank", "doc_id", "bm25")
        .orderBy("query_id", "rank")
    )
