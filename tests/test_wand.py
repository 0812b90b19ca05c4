"""Block-max WAND: rank-identity vs exhaustive BM25 (oracle), AND/OR
semantics, degenerate queries, and randomized algorithm-level checks."""

import math

import numpy as np
import pytest

from searchengine_spark.bm25 import B, K1
from searchengine_spark.corpus import reference_queries
from searchengine_spark.query import parse_query
from searchengine_spark.wand import _TermList, score_wand, wand_topk


def _oracle_bm25_topk(idx, query, mode, k):
    terms = parse_query(query)
    present = [t for t in terms if t in idx.postings]
    if mode == "AND":
        if len(present) != len(terms) or not terms:
            return []
        cands = set(idx.postings[present[0]])
        for t in present[1:]:
            cands &= set(idx.postings[t])
    else:
        cands = set()
        for t in present:
            cands |= set(idx.postings[t])
    rows = []
    for d in cands:
        s = 0.0
        for t in sorted(present):
            if d in idx.postings[t]:
                tf = idx.postings[t][d]
                df = len(idx.postings[t])
                idf = math.log(1.0 + (idx.n_docs - df + 0.5) / (df + 0.5))
                dl = idx.doc_len[d]
                s += idf * (K1 + 1.0) * tf / (
                    tf + K1 * (1.0 - B + B * dl / idx.avgdl)
                )
        rows.append((d, s))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def test_wand_rank_identical_to_oracle(spark, tiny_index, tiny_oracle):
    qs = reference_queries()
    got = score_wand(spark, tiny_index, qs).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    n_nonempty = 0
    for q in qs:
        want = _oracle_bm25_topk(
            tiny_oracle, q["query"], q.get("mode", "OR"), int(q.get("k", 15))
        )
        have = sorted(by_q.get(q["query_id"], []), key=lambda r: r["rank"])
        assert len(have) == len(want), f"query {q['query_id']}: {q['query']!r}"
        for h, (doc, score) in zip(have, want):
            assert h["doc_id"] == doc, f"query {q['query_id']}"
            assert abs(h["bm25"] - score) < 1e-9
        n_nonempty += bool(want)
    assert n_nonempty > 10  # the fixture query set is non-trivial


def test_wand_degenerate_queries(spark, tiny_index, salted_index):
    qs = [
        {"query_id": 0, "query": "", "mode": "OR", "k": 10},
        {"query_id": 1, "query": "zzznotaterm", "mode": "OR", "k": 10},
        {"query_id": 2, "query": "zzznotaterm merge", "mode": "AND", "k": 10},
        {"query_id": 3, "query": "merge", "mode": "OR", "k": 0},
    ]
    for root in (tiny_index, salted_index):
        assert score_wand(spark, root, qs).collect() == []
        assert score_wand(spark, root, []).collect() == []


def _random_termlists(rng, n_terms, n_docs, full_range=False):
    # full_range exercises xxhash64-style doc ids spanning all of int64
    # (regression: an _END sentinel below int64 max truncated lists)
    universe = (
        rng.choice(
            np.arange(n_docs, dtype=np.int64) * (2**63 // max(n_docs, 1) // 2) * 2
            - (2**62),
            size=n_docs,
            replace=False,
        )
        if full_range
        else np.arange(n_docs, dtype=np.int64)
    )
    tls = []
    for order in range(n_terms):
        size = rng.integers(1, n_docs)
        docs = np.sort(rng.choice(universe, size=size, replace=False))
        norms = rng.uniform(0.1, 0.9, size=size)
        idf = float(rng.uniform(0.2, 3.0))
        from searchengine_spark.compress import BLOCK

        n_blocks = (size + BLOCK - 1) // BLOCK
        bl = np.empty(n_blocks, dtype=np.int64)
        bm = np.empty(n_blocks)
        for b in range(n_blocks):
            lo, hi = b * BLOCK, min((b + 1) * BLOCK, size)
            bl[b] = docs[hi - 1]
            bm[b] = idf * (K1 + 1.0) * norms[lo:hi].max()
        tl = _TermList(idf, docs, norms, bl, bm)
        tl.max_score = float(bm.max())
        tl.field_order = order
        tls.append(tl)
    return tls


def _brute(tls, k, mode):
    from collections import defaultdict

    per_doc = defaultdict(list)
    for t in tls:
        for d, nv in zip(t.docs, t.norms):
            per_doc[int(d)].append((t.field_order, t.idf * (K1 + 1.0) * nv))
    rows = []
    for d, parts in per_doc.items():
        if mode == "AND" and len(parts) != len(tls):
            continue
        s = 0.0
        for _o, v in sorted(parts):
            s += v
        rows.append((d, s))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


@pytest.mark.parametrize("mode", ["OR", "AND"])
@pytest.mark.parametrize("full_range", [False, True])
def test_wand_randomized_vs_bruteforce(mode, full_range):
    rng = np.random.default_rng(1234)
    for trial in range(15):
        n_terms = int(rng.integers(1, 5))
        n_docs = int(rng.integers(50, 1500))
        k = int(rng.integers(1, 25))
        tls = _random_termlists(rng, n_terms, n_docs, full_range)
        import copy

        want = _brute(copy.deepcopy(tls), k, mode)
        got = wand_topk(tls, k, mode)
        assert len(got) == len(want), f"trial {trial}"
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gd == wd, f"trial {trial} mode {mode}"
            assert abs(gs - ws) < 1e-12


def _encode_rows(docs, tfs, dls, avgdl, n_salts):
    """Build salted segment rows exactly as indexer.encode_segments'
    Arrow kernel does (range salting, one compress.encode_segment call
    per (term, salt) run), for tests without Spark."""
    from searchengine_spark.compress import encode_segment
    from searchengine_spark.indexer import salt_of

    salts = salt_of(docs, n_salts)
    rows = []
    for s in sorted(set(salts.tolist())):
        m = salts == s
        d, t, l = docs[m], tfs[m], dls[m]
        norms = t / (t + K1 * (1.0 - B + B * l / avgdl))
        positions = np.empty(len(t), dtype=object)
        positions[:] = [np.arange(x, dtype=np.int64) for x in t]
        rows.append({"salt": int(s), **encode_segment(d, t, l, positions, norms)})
    return rows


def _random_posting_data(rng, n_docs):
    universe = np.sort(
        rng.choice(
            np.arange(-(2**62), 2**62, 2**62 // max(n_docs, 1) * 2 // 1,
                      dtype=np.int64),
            size=n_docs,
            replace=False,
        )
    )
    docs = universe
    tfs = rng.integers(1, 50, size=n_docs).astype(np.int64)
    dls = rng.integers(5, 400, size=n_docs).astype(np.int64)
    return docs, tfs, dls


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_lazy_termlist_matches_eager(mode):
    """_LazyTermList (segment rows, block-at-a-time decode) must produce
    the same top-k as the eager reference over identical postings."""
    from searchengine_spark.wand import merge_salted

    rng = np.random.default_rng(77)
    avgdl = 120.0
    for trial in range(10):
        n_terms = int(rng.integers(1, 4))
        tls_lazy, tls_eager = [], []
        for order in range(n_terms):
            n_docs = int(rng.integers(30, 800))
            docs, tfs, dls = _random_posting_data(rng, n_docs)
            idf = float(rng.uniform(0.2, 3.0))
            n_salts = int(rng.integers(1, 5))
            rows = _encode_rows(docs, tfs, dls, avgdl, n_salts)
            tls_lazy.append(
                merge_salted(rows, idf, avgdl, field_order=order)
            )
            norms = tfs / (tfs + K1 * (1.0 - B + B * dls / avgdl))
            from searchengine_spark.compress import BLOCK

            n_blocks = (n_docs + BLOCK - 1) // BLOCK
            bl = np.empty(n_blocks, dtype=np.int64)
            bm = np.empty(n_blocks)
            for b in range(n_blocks):
                lo, hi = b * BLOCK, min((b + 1) * BLOCK, n_docs)
                bl[b] = docs[hi - 1]
                bm[b] = idf * (K1 + 1.0) * norms[lo:hi].max()
            tl = _TermList(idf, docs, norms.astype(np.float64), bl, bm)
            tl.max_score = float(bm.max())
            tl.field_order = order
            tls_eager.append(tl)
        k = int(rng.integers(1, 20))
        got = wand_topk(tls_lazy, k, mode)
        want = wand_topk(tls_eager, k, mode)
        assert [d for d, _ in got] == [d for d, _ in want], f"trial {trial}"
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-12


def test_lazy_skips_block_decode():
    """When pruning fires, blocks the cursor never visits are never
    varbyte-decoded (the point of persisting byte offsets: at scale the
    saving is IO/decode, not just float math)."""
    from searchengine_spark.wand import merge_salted

    rng = np.random.default_rng(5)
    avgdl = 100.0
    # a huge low-impact list + a tiny high-idf list, k=1: WAND should
    # skip most of the big list's blocks
    n_big = 60_000
    docs, tfs, dls = _random_posting_data(rng, n_big)
    tfs[:] = 1  # uniform low scores -> tight block maxima
    dls[:] = 300
    big_rows = _encode_rows(docs, tfs, dls, avgdl, n_salts=4)
    big = merge_salted(big_rows, 0.1, avgdl, field_order=0)
    sel = np.sort(rng.choice(n_big, size=20, replace=False))
    sdocs = docs[sel].copy()
    stfs = np.full(20, 40, dtype=np.int64)
    sdls = np.full(20, 50, dtype=np.int64)
    small_rows = _encode_rows(sdocs, stfs, sdls, avgdl, n_salts=1)
    small = merge_salted(small_rows, 5.0, avgdl, field_order=1)
    hits = wand_topk([big, small], 1, "OR")
    assert len(hits) == 1
    assert big.decoded_blocks < big.n_blocks // 2, (
        f"decoded {big.decoded_blocks}/{big.n_blocks} blocks — pruning "
        "is not skipping decode"
    )


def _max_ranges(spark, root, queries):
    """The most doc ranges score_wand splits any of ``queries`` into."""
    from searchengine_spark.indexer import read_stats
    from searchengine_spark.query import _query_terms_df, all_query_terms, term_stats

    n_docs, _ = read_stats(spark, root)
    stats = term_stats(spark, root, all_query_terms(queries), n_docs)
    return max(r["ranges"] for r in _query_terms_df(spark, queries, stats).collect())


def test_score_wand_ranged_equals_single(spark, tiny_index, salted_index):
    """Range-parallel serving (bounded per-task memory) is rank-identical
    to the single-task plan: the same corpus at 16 postings per segment
    splits its queries into many doc ranges, where the default segment
    size keeps every query in one."""
    qs = reference_queries()
    assert _max_ranges(spark, tiny_index, qs) == 1
    assert _max_ranges(spark, salted_index, qs) > 8
    one = score_wand(spark, tiny_index, qs).collect()
    many = score_wand(spark, salted_index, qs).collect()
    assert one == many
    assert len(one) > 100


def test_score_wand_offset(spark, tiny_index, salted_index):
    """WAND keeps ranks offset+1 .. offset+k, as the exhaustive scorer
    does: the same rows as the first offset+k ranks less the first
    offset, with one or many ranges, for OR, AND and -term requests."""
    from searchengine_spark.corpus import VOCAB

    qs = reference_queries()[:12] + [
        {"query_id": 100, "query": f"{VOCAB[0]} {VOCAB[1]}", "mode": "AND"},
        {"query_id": 101, "query": f"{VOCAB[0]} {VOCAB[1]}", "exclude": VOCAB[2]},
    ]
    for root in (tiny_index, salted_index):
        full = score_wand(spark, root, [{**q, "k": 10} for q in qs]).collect()
        paged = score_wand(
            spark, root, [{**q, "k": 5, "offset": 5} for q in qs]
        ).collect()
        assert paged == [r for r in full if r["rank"] > 5]
        assert len(paged) > 20


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_wand_excluded_randomized(mode):
    """NOT semantics at the kernel level: wand_topk with a deny cursor
    equals brute-force full ranking minus the deny list's docs, for both
    OR and AND."""
    import copy

    rng = np.random.default_rng(4321)
    n_bit = 0
    for trial in range(12):
        n_terms = int(rng.integers(1, 5))
        n_docs = int(rng.integers(50, 800))
        k = int(rng.integers(1, 25))
        tls = _random_termlists(rng, n_terms + 1, n_docs)
        deny = [tls.pop()]  # the extra list becomes the deny list
        deny_docs = {int(d) for d in deny[0].docs}
        want_all = _brute(copy.deepcopy(tls), 10**9, mode)
        want = [(d, s) for d, s in want_all if d not in deny_docs][:k]
        n_bit += want != want_all[:k]
        got = wand_topk(tls, k, mode, excluded=deny)
        assert len(got) == len(want), f"trial {trial}"
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gd == wd, f"trial {trial} mode {mode}"
            assert abs(gs - ws) < 1e-12
    assert n_bit > 3  # exclusion actually changed results, not vacuous


def test_score_wand_exclusions(spark, tiny_index, salted_index):
    """Distributed NOT: score_wand with exclude == unexcluded full
    ranking minus the excluded term's posting docs, identical with one
    doc range (tiny_index) and many (salted_index); exclusion-only and
    junk-exclusion edge cases stay sane."""
    from searchengine_spark.corpus import VOCAB

    q, ex = f"{VOCAB[0]} {VOCAB[1]}", VOCAB[2]
    big = 10**6
    base = score_wand(
        spark, tiny_index, [{"query_id": 0, "query": q, "k": big}]
    ).collect()
    deny_docs = {
        r["doc_id"]
        for r in score_wand(
            spark, tiny_index, [{"query_id": 0, "query": ex, "k": big}]
        ).collect()
    }
    want = [r for r in base if r["doc_id"] not in deny_docs][:15]
    assert want != base[:15]  # head words co-occur: non-vacuous
    excluding = [{"query_id": 0, "query": q, "k": 15, "exclude": ex}]
    assert _max_ranges(spark, salted_index, excluding) > 1
    for root in (tiny_index, salted_index):
        got = score_wand(spark, root, excluding).collect()
        assert [(r["doc_id"], r["bm25"]) for r in got] == [
            (r["doc_id"], r["bm25"]) for r in want
        ], root
    # excluding a junk term is a no-op; a query that is ONLY an
    # exclusion returns nothing (no positive terms to score)
    noop = score_wand(
        spark, tiny_index,
        [{"query_id": 0, "query": q, "k": 15, "exclude": "zzznotaterm"}],
    ).collect()
    assert [(r["doc_id"], r["bm25"]) for r in noop] == [
        (r["doc_id"], r["bm25"]) for r in base[:15]
    ]
    assert (
        score_wand(
            spark, tiny_index,
            [{"query_id": 0, "query": "", "k": 15, "exclude": ex}],
        ).collect()
        == []
    )


def test_score_wand_mode_is_validated(spark, tiny_index):
    """WAND reads a request's mode the way the exhaustive scorer does:
    case-insensitively, and a junk mode raises instead of running OR."""
    from searchengine_spark.corpus import VOCAB

    q = {"query_id": 0, "query": f"{VOCAB[0]} {VOCAB[1]}", "k": 10**6}
    upper = score_wand(spark, tiny_index, [{**q, "mode": "AND"}]).collect()
    lower = score_wand(spark, tiny_index, [{**q, "mode": "and"}]).collect()
    either = score_wand(spark, tiny_index, [{**q, "mode": "OR"}]).collect()
    assert lower == upper
    assert upper != either  # AND and OR differ on this query: non-vacuous
    for junk in ("XOR", "PHRASE"):
        with pytest.raises(ValueError):
            score_wand(spark, tiny_index, [{**q, "mode": junk}])


def test_score_exhaustive_exclusions(spark, tiny_index):
    """The blended exhaustive path honors the same NOT semantics: the
    excluded docs vanish and k fills from survivors, ranks re-numbered."""
    from searchengine_spark.corpus import VOCAB
    from searchengine_spark.query import score_exhaustive

    q, ex = f"{VOCAB[0]} {VOCAB[1]}", VOCAB[2]
    base = score_exhaustive(
        spark, tiny_index, [{"query_id": 0, "query": q, "k": 10**6}]
    ).orderBy("rank").collect()
    deny_docs = {
        r["doc_id"]
        for r in score_wand(
            spark, tiny_index, [{"query_id": 0, "query": ex, "k": 10**6}]
        ).collect()
    }
    want = [r for r in base if r["doc_id"] not in deny_docs][:15]
    assert want != base[:15]
    got = score_exhaustive(
        spark, tiny_index,
        [{"query_id": 0, "query": q, "k": 15, "exclude": ex}],
    ).orderBy("rank").collect()
    assert [(r["doc_id"], r["blended"]) for r in got] == [
        (r["doc_id"], r["blended"]) for r in want
    ]
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
