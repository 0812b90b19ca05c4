"""Rank-identity of the full engine vs the single-process oracle
(BASELINE.md: top-k doc IDs exact, scores to 1e-9, tie-break
blended DESC doc_id ASC), plus resume semantics."""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from searchengine_spark import checkpoint, corpus
from searchengine_spark.indexer import build_index
from searchengine_spark.oracle import (
    build_oracle_index,
    oracle_all_queries,
    oracle_pagerank,
)
from searchengine_spark.query import score_exhaustive


@pytest.fixture(scope="module")
def golden_rows(tiny_oracle, tiny_pages_path):
    idx = tiny_oracle
    idx.links = {}
    # oracle uses the engine-extracted edge truth = planted graph
    pages = pq.read_table(tiny_pages_path).to_pylist()
    idx2 = build_oracle_index(pages, edges=corpus.expected_edges(len(pages)))
    oracle_pagerank(idx2, threshold=1e-4)
    return oracle_all_queries(idx2, corpus.reference_queries())


def test_rank_identity(spark, tiny_index, golden_rows):
    res = score_exhaustive(spark, tiny_index, corpus.reference_queries()).collect()
    eng = {(r["query_id"], r["rank"]): (r["doc_id"], r["bm25"], r["blended"]) for r in res}
    gol = {(r["query_id"], r["rank"]): (r["doc_id"], r["bm25"], r["blended"]) for r in golden_rows}
    assert set(eng) == set(gol)
    for key in gol:
        e, g = eng[key], gol[key]
        assert e[0] == g[0], f"doc mismatch at {key}: {e} vs {g}"
        assert abs(e[1] - g[1]) < 1e-9, f"bm25 mismatch at {key}"
        assert abs(e[2] - g[2]) < 1e-9, f"blended mismatch at {key}"


def test_parallelism_invariance(spark, tiny_pages_path, tiny_index, golden_rows):
    """Same corpus indexed with different chunk/bucket/parallelism settings
    must produce identical query results (SURVEY.md §5.3)."""
    root2 = "/tmp/se_spark_fixtures/index_tiny_p2"
    shutil.rmtree(root2, ignore_errors=True)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        build_index(spark, tiny_pages_path, root2, n_chunks=1, n_buckets=2)
        from searchengine_spark.pagerank import build_pagerank_stage

        build_pagerank_stage(spark, tiny_pages_path, root2, "build-1")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    res = score_exhaustive(spark, root2, corpus.reference_queries()).collect()
    eng = {(r["query_id"], r["rank"]): (r["doc_id"], r["bm25"], r["blended"]) for r in res}
    gol = {(r["query_id"], r["rank"]): (r["doc_id"], r["bm25"], r["blended"]) for r in golden_rows}
    assert set(eng) == set(gol)
    for key in gol:
        assert eng[key][0] == gol[key][0]
        assert abs(eng[key][2] - gol[key][2]) < 1e-9


def test_resume_skips_completed_partitions(spark, tiny_pages_path):
    """Kill the build mid-postings; re-run; completed partitions are not
    recomputed and the final index equals an uninterrupted one."""
    from searchengine_spark.indexer import (
        build_docstats_stage,
        build_postings_stage,
        build_tokens_stage,
    )

    root = "/tmp/se_spark_fixtures/index_resume"
    shutil.rmtree(root, ignore_errors=True)
    build_tokens_stage(spark, tiny_pages_path, root, "b1", n_chunks=2, n_buckets=4)
    build_docstats_stage(spark, tiny_pages_path, root, "b1")
    with pytest.raises(KeyboardInterrupt):
        build_postings_stage(spark, root, "b1", n_buckets=4, group_size=1,
                             kill_after=2)
    from searchengine_spark.indexer import postings_fingerprint

    done_before = checkpoint.completed_partitions(
        root, "postings", postings_fingerprint(root, 4, 1 << 17, 1)
    )
    assert len(done_before) == 2
    # resume: must run exactly the remaining 2 bucket-groups
    build_postings_stage(spark, root, "b1", n_buckets=4, group_size=1)
    metrics = [m for m in checkpoint.read_metrics(root) if m["stage"] == "postings"]
    assert len(metrics) == 4  # 2 + 2, no partition recorded twice
    assert sorted(m["partition_id"] for m in metrics) == [0, 1, 2, 3]


def test_lineage_recomputes_on_input_change(spark, tiny_pages_path):
    """Stage fingerprints cover input CONTENT: appending a token file and
    re-running build_postings_stage must recompute every group instead of
    serving a silently stale index (VERDICT r1 finding #2)."""
    import glob

    from searchengine_spark import catalog
    from searchengine_spark.indexer import (
        build_docstats_stage,
        build_postings_stage,
        build_tokens_stage,
    )

    root = "/tmp/se_spark_fixtures/index_content_fp"
    shutil.rmtree(root, ignore_errors=True)
    build_tokens_stage(spark, tiny_pages_path, root, "b1", n_chunks=1, n_buckets=4)
    build_docstats_stage(spark, tiny_pages_path, root, "b1")
    build_postings_stage(spark, root, "b1", n_buckets=4, group_size=2)
    n_first = len(
        [m for m in checkpoint.read_metrics(root) if m["stage"] == "postings"]
    )
    assert n_first == 2
    # no-op re-run: nothing recomputes
    build_postings_stage(spark, root, "b1", n_buckets=4, group_size=2)
    assert (
        len([m for m in checkpoint.read_metrics(root) if m["stage"] == "postings"])
        == n_first
    )
    # simulate a streaming append: copy one token file under a new name
    tok_files = glob.glob(
        os.path.join(catalog.path(root, catalog.TOKENS), "**", "*.parquet"),
        recursive=True,
    )
    src = tok_files[0]
    shutil.copy(src, os.path.join(os.path.dirname(src), "part-appended.parquet"))
    build_postings_stage(spark, root, "b1", n_buckets=4, group_size=2)
    metrics = [m for m in checkpoint.read_metrics(root) if m["stage"] == "postings"]
    assert len(metrics) == n_first + 2, "all groups must recompute on new input"


def test_pages_read_with_declared_schema(spark, tiny_pages_path, tmp_path):
    """The pages corpus is read with its declared schema: ingest runs no
    schema-inference job, and a pages table lacking a declared column
    (here html) is still refused, before any Spark job."""
    from searchengine_spark.indexer import PAGES_SPARK_SCHEMA, ingest

    sc = spark.sparkContext
    sc.setJobGroup("ingest-declared-schema", "ingest")
    try:
        pages = ingest(spark, tiny_pages_path)
    finally:
        sc.setJobGroup(None, None)
    assert pages.schema == PAGES_SPARK_SCHEMA
    assert not sc.statusTracker().getJobIdsForGroup("ingest-declared-schema")
    no_html = tmp_path / "pages_no_html"
    no_html.mkdir()
    pq.write_table(
        pq.read_table(tiny_pages_path).drop(["html"]),
        str(no_html / "part-00000.parquet"),
    )
    with pytest.raises(ValueError, match="html"):
        ingest(spark, str(no_html))


def test_n_buckets_from_metadata(spark, tiny_pages_path):
    """Bucket count comes from persisted metadata, not directory counting:
    an index whose term hashes leave some buckets empty (partitionBy omits
    empty dirs) must still prune queries against the BUILD's bucket count."""
    from searchengine_spark import catalog
    from searchengine_spark.query import _n_buckets

    root = "/tmp/se_spark_fixtures/index_meta_buckets"
    shutil.rmtree(root, ignore_errors=True)
    # 64 buckets over a 200-doc corpus: some buckets are certainly empty
    build_index(spark, tiny_pages_path, root, n_chunks=1, n_buckets=64)
    assert _n_buckets(root) == 64
    assert catalog.read_meta(root)["n_buckets"] == 64
    import glob

    n_dirs = len(
        {
            os.path.basename(d)
            for d in glob.glob(
                os.path.join(catalog.path(root, catalog.POSTINGS), "group=*", "bucket=*")
            )
        }
    )
    # queries stay correct even when the directory count disagrees
    from searchengine_spark.corpus import VOCAB

    res = score_exhaustive(
        spark, root, [{"query_id": 0, "query": f"{VOCAB[0]} {VOCAB[1]}", "k": 10}]
    ).collect()
    assert len(res) > 0
    assert n_dirs <= 64  # empty buckets may be omitted; pruning still works


def test_salt_expr_parity_and_monotonicity(spark):
    """The JVM range-salt expression and its numpy twin must agree
    exactly (merge re-salting depends on it), and the salt must be
    monotone in doc_id so salted blobs are doc-range-disjoint."""
    import numpy as np
    from pyspark.sql import functions as F

    from searchengine_spark.indexer import salt_expr, salt_of

    rng = np.random.default_rng(9)
    ids = np.unique(
        np.concatenate(
            [
                rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64),
                np.array([-(2**63), -1, 0, 1, 2**63 - 1], dtype=np.int64),
            ]
        )
    )
    for n_salts in (1, 2, 3, 7, 64, 1000):
        df = spark.createDataFrame(
            [(int(d),) for d in ids], "doc_id long"
        ).withColumn("salt", salt_expr(F.lit(n_salts)))
        jvm = {r["doc_id"]: r["salt"] for r in df.collect()}
        py = salt_of(ids, n_salts)
        assert all(jvm[int(d)] == int(s) for d, s in zip(ids, py)), n_salts
        # monotone + in-range over sorted ids
        s_sorted = salt_of(np.sort(ids), n_salts)
        assert (np.diff(s_sorted) >= 0).all()
        assert s_sorted.min() >= 0 and s_sorted.max() < n_salts


def test_segment_kernel_matches_per_run_oracle(spark, tmp_path):
    """encode_segments' Arrow kernel at three rows per Arrow batch, so
    (term, salt) runs straddle batches: a head term split into >= 3
    salts, small terms beside it, and a bucket whose only run is the
    last run of its partition. Every segment row equals a per-run
    compress.encode_segment oracle fed per-posting position lists."""
    import operator

    import numpy as np

    from searchengine_spark.bm25 import tf_norm
    from searchengine_spark.compress import encode_segment
    from searchengine_spark.indexer import encode_segments, salt_of

    rng = np.random.default_rng(6)
    target, avgdl = 4, 7.25
    # (bucket, term, postings); rows sort by bucket first, so bucket 3's
    # single one-posting run ends whichever partition holds it
    spec = [(0, "head", 15), (0, "mid", 5), (0, "solo", 1),
            (1, "pair", 2), (1, "tail", 7), (3, "zlast", 1)]
    rows = []
    for b, term, n in spec:
        docs = rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
        assert len(set(docs.tolist())) == n
        for d in docs.tolist():
            tf = int(rng.integers(1, 5))
            pos = sorted(rng.choice(60, size=tf, replace=False).tolist())
            rows.append((b, term, d, tf, pos, int(rng.integers(5, 90))))
    rng.shuffle(rows)

    want = []
    for b, term, n in spec:
        mine = sorted(r for r in rows if r[1] == term)
        docs = np.array([r[2] for r in mine], np.int64)
        n_salts = -(-n // target)
        salts = salt_of(docs, n_salts)
        if term == "head":
            assert len(set(salts.tolist())) >= 3
        for s in sorted(set(salts.tolist())):
            run = [r for r, x in zip(mine, salts) if x == s]
            tfs = np.array([r[3] for r in run], np.int64)
            dls = np.array([r[5] for r in run], np.int64)
            plists = np.empty(len(run), dtype=object)
            plists[:] = [np.array(r[4], np.int64) for r in run]
            seg = encode_segment(
                np.array([r[2] for r in run], np.int64), tfs, dls, plists,
                tf_norm(tfs, dls, avgdl),
            )
            want.append({"bucket": b, "term": term, "salt": s,
                         "n_salts": n_salts, **seg, "avgdl_ref": avgdl})

    toks = spark.createDataFrame(
        rows, "bucket int, term string, doc_id long, tf int, "
              "positions array<int>, doc_len int",
    )
    confs = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in
             [*confs, "spark.sql.shuffle.partitions"]}
    key = operator.itemgetter("bucket", "term", "salt")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for n_parts in (1, 3):
            spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
            segs = encode_segments(toks, target, avgdl)
            got = [
                {k: bytes(v) if isinstance(v, bytearray) else v
                 for k, v in r.asDict().items()}
                for r in segs.collect()
            ]
            assert sorted(got, key=key) == sorted(want, key=key), n_parts
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_and_semantics(spark, tiny_index, tiny_oracle):
    """AND queries return only docs containing every term."""
    idx = tiny_oracle
    planted = "zyqvexa"  # title-planted term, df = |{i : i%211==7}|
    q = [{"query_id": 0, "query": planted, "mode": "AND", "k": 50}]
    res = score_exhaustive(spark, tiny_index, q).collect()
    expected_docs = set(idx.postings.get(planted, {}))
    assert {r["doc_id"] for r in res} == expected_docs
    assert len(expected_docs) == len([i for i in range(200) if i % 211 == 7])


def test_positional_phrase_match(spark, tiny_index, tiny_pages_path):
    """Index-side phrase query (pos_blob) equals a direct scan of the
    scoring-pipeline token streams."""
    import pyarrow.parquet as pq

    from searchengine_spark.porter import porter_stem
    from searchengine_spark.query import phrase_match
    from searchengine_spark.textprep import (
        doc_term_stats,
        extract_text_titlep_lower,
    )
    from searchengine_spark.xxhash64 import spark_xxhash64_str

    pages = pq.read_table(tiny_pages_path).to_pylist()
    # pick a phrase that actually occurs: first two tokens of some doc
    from searchengine_spark.textprep import java_tokens, stem_tokens

    phrase = None
    for p in pages:
        toks = stem_tokens(
            java_tokens(extract_text_titlep_lower(bytes(p["html"]).decode()))
        )
        if len(toks) >= 2:
            phrase = [toks[5], toks[6]] if len(toks) > 6 else toks[:2]
            break
    assert phrase
    expected: dict[int, int] = {}
    for p in pages:
        toks = stem_tokens(
            java_tokens(extract_text_titlep_lower(bytes(p["html"]).decode()))
        )
        n = sum(
            1
            for i in range(len(toks) - 1)
            if toks[i] == phrase[0] and toks[i + 1] == phrase[1]
        )
        if n:
            expected[spark_xxhash64_str(p["url"])] = n
    # phrase_match stems its input; feed it raw-ish words that stem to
    # the chosen stemmed tokens (stems are fixed points of the stemmer
    # for this corpus vocabulary, so pass them directly)
    assert [porter_stem(t) for t in phrase] == phrase
    got = {
        r["doc_id"]: r["n_hits"]
        for r in phrase_match(spark, tiny_index, {0: phrase}).collect()
    }
    assert got == expected
    assert expected, "fixture phrase should occur at least once"


def test_serving_search(spark, tiny_index, tiny_pages_path):
    """Full serving pipeline: titles/snippets/pagination (Mainpage parity)."""
    from searchengine_spark.corpus import VOCAB
    from searchengine_spark.serving import SNIPPET_WORDS, search

    q = f"{VOCAB[0]} {VOCAB[1]}"  # Zipf-head corpus terms: many hits
    page1 = search(spark, tiny_index, tiny_pages_path, q, k=5).collect()
    assert 0 < len(page1) <= 5
    assert [r["rank"] for r in page1] == list(range(1, len(page1) + 1))
    for r in page1:
        assert r["title"]  # every fixture page has a <title>
        assert len(r["snippet"].split()) <= SNIPPET_WORDS
        assert r["url"].startswith("https://")
    page2 = search(
        spark, tiny_index, tiny_pages_path, q, k=5, offset=5
    ).collect()
    assert {r["url"] for r in page1}.isdisjoint({r["url"] for r in page2})
    assert [r["rank"] for r in page2] == list(range(6, 6 + len(page2)))


def test_docstore_fast_path(spark, tiny_index, tiny_pages_path):
    """Docstore serving: identical rows to the pages-scan path, pushed
    In(doc_id) filter on the store scan (O(k) row groups, no corpus
    scan), and no crash on a zero-hit query. The attached rows come
    back as a local table, so the fetch job is the last one."""
    import contextlib
    import io
    import shutil

    from searchengine_spark import catalog
    from searchengine_spark.corpus import VOCAB
    from searchengine_spark.serving import (
        _docstore_fetch,
        _topk_df,
        build_docstore,
        search,
    )

    q = f"{VOCAB[0]} {VOCAB[1]}"
    slow_rows = [
        r.asDict()
        for r in search(spark, tiny_index, tiny_pages_path, q, k=5).collect()
    ]
    assert slow_rows
    build_docstore(spark, tiny_index, tiny_pages_path, n_files=4)
    try:
        fast = search(spark, tiny_index, tiny_pages_path, q, k=5)
        assert [r.asDict() for r in fast.collect()] == slow_rows
        lp = fast._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in lp and "LogicalRDD" not in lp, lp
        topk = _topk_df(spark, tiny_index, [{"query": q, "k": 5}])
        fetch = _docstore_fetch(
            spark, tiny_index, {r["doc_id"] for r in topk.collect()}
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fetch.explain(mode="formatted")
        p = buf.getvalue()
        assert "docstore" in p and "In(doc_id" in p, p
        assert "html" not in p  # never reads the corpus html column
        empty = search(spark, tiny_index, tiny_pages_path, "zzznotaterm", k=5)
        assert empty.collect() == []
    finally:
        shutil.rmtree(
            catalog.path(tiny_index, catalog.DOCSTORE), ignore_errors=True
        )


def test_docstore_lag_window_fallback(spark, tiny_index, tiny_pages_path,
                                      tmp_path):
    """A ranked doc in the post-merge lag window (present in docstats,
    absent from the docstore) is served through the corpus-scan
    fallback instead of being silently dropped — no rank gaps, rows
    identical to the pages-scan path."""
    import shutil

    from pyspark.sql import functions as F

    from searchengine_spark import catalog
    from searchengine_spark.corpus import VOCAB
    from searchengine_spark.serving import build_docstore, search

    q = f"{VOCAB[0]} {VOCAB[1]}"
    slow_rows = [
        r.asDict()
        for r in search(spark, tiny_index, tiny_pages_path, q, k=5).collect()
    ]
    assert slow_rows
    # docstore built over the corpus MINUS the rank-1 doc: that doc is
    # now exactly a lag-window doc (ranked from docstats, not in store)
    subset = str(tmp_path / "pages_subset")
    (
        spark.read.parquet(tiny_pages_path)
        .filter(F.col("url") != slow_rows[0]["url"])
        .write.parquet(subset)
    )
    build_docstore(spark, tiny_index, subset, n_files=2)
    try:
        fast_rows = [
            r.asDict()
            for r in search(
                spark, tiny_index, tiny_pages_path, q, k=5
            ).collect()
        ]
        assert fast_rows == slow_rows
    finally:
        shutil.rmtree(
            catalog.path(tiny_index, catalog.DOCSTORE), ignore_errors=True
        )


def test_build_docstore_is_lineage_recorded(spark, tiny_index, tiny_pages_path):
    """build_docstore records a docstore lineage row; a second build over
    unchanged pages, docstats and n_files rewrites no file, but a build
    over inputs whose row is not the latest one (n_files 3, 2, then 3
    again) does; and refresh_docstore still builds a store that was
    deleted after its lineage row was written."""
    from searchengine_spark import catalog
    from searchengine_spark.serving import build_docstore, refresh_docstore

    store = catalog.path(tiny_index, catalog.DOCSTORE)

    def mtimes():
        return {
            os.path.relpath(os.path.join(dp, f), store):
                os.stat(os.path.join(dp, f)).st_mtime_ns
            for dp, _dirs, fs in os.walk(store) for f in fs
        }

    try:
        build_docstore(spark, tiny_index, tiny_pages_path, n_files=3)
        first = mtimes()
        assert first
        assert any(
            m["stage"] == "docstore" for m in checkpoint.read_metrics(tiny_index)
        )
        build_docstore(spark, tiny_index, tiny_pages_path, n_files=3)
        assert mtimes() == first
        build_docstore(spark, tiny_index, tiny_pages_path, n_files=2)
        second = mtimes()
        assert second != first
        build_docstore(spark, tiny_index, tiny_pages_path, n_files=3)
        assert mtimes() != second
        shutil.rmtree(store)
        assert refresh_docstore(spark, tiny_index, tiny_pages_path) == -1
        n_docs = spark.read.parquet(catalog.path(tiny_index, catalog.DOCSTATS)).count()
        assert spark.read.parquet(store).count() == n_docs
    finally:
        shutil.rmtree(store, ignore_errors=True)


def test_search_many_matches_solo(spark, tiny_index, tiny_pages_path):
    """Batched serving == N independent search() calls, across mixed
    modes, exclusions, and offsets (the QueryBatcher correctness
    contract)."""
    from searchengine_spark.corpus import VOCAB
    from searchengine_spark.serving import search, search_many

    reqs = [
        {"query": f"{VOCAB[0]} {VOCAB[1]}", "mode": "OR", "k": 5},
        {"query": f"{VOCAB[0]} {VOCAB[1]}", "mode": "AND", "k": 4},
        {"query": f"{VOCAB[0]} {VOCAB[1]}", "mode": "PHRASE", "k": 3},
        {"query": f"{VOCAB[2]} -{VOCAB[3]}", "mode": "OR", "k": 5},
        {"query": f"{VOCAB[0]} {VOCAB[1]}", "mode": "OR", "k": 5,
         "offset": 5},
        {"query": "zzznotaterm", "mode": "OR", "k": 5},
    ]
    got = search_many(spark, tiny_index, tiny_pages_path, reqs)
    key = ("rank", "url", "title", "snippet", "bm25", "blended")
    for req, rows in zip(reqs, got):
        want = search(
            spark, tiny_index, tiny_pages_path, req["query"],
            mode=req["mode"], k=req["k"], offset=req.get("offset", 0),
        ).collect()
        assert [tuple(r[c] for c in key) for r in rows] == [
            tuple(r[c] for c in key) for r in want
        ], req


def test_query_batcher_coalesces(spark, tiny_index, tiny_pages_path):
    """Concurrent QueryBatcher.search calls share Spark jobs (fewer
    batches than requests) and return per-request correct rows."""
    import threading

    from searchengine_spark.corpus import VOCAB
    from searchengine_spark.serving import QueryBatcher, search

    b = QueryBatcher(spark, tiny_index, tiny_pages_path)
    try:
        queries = [f"{VOCAB[i]} {VOCAB[i + 1]}" for i in range(6)]
        results: dict[int, list] = {}

        def run(i: int) -> None:
            results[i] = b.search(queries[i], k=5)

        threads = [
            threading.Thread(target=run, args=(i,))
            for i in range(len(queries))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert b.requests_served == len(queries)
        assert b.batches_run < len(queries)  # coalescing happened
        for i, q in enumerate(queries):
            want = search(spark, tiny_index, tiny_pages_path, q, k=5).collect()
            assert [r["url"] for r in results[i]] == [r["url"] for r in want]
    finally:
        b.close()


def test_exhaustive_degenerate_queries(spark, tiny_index):
    """Empty / absent-term / k=0 queries return 0 rows, never raise."""
    qs = [
        {"query_id": 0, "query": "", "mode": "OR", "k": 10},
        {"query_id": 1, "query": "zzznotaterm", "mode": "OR", "k": 10},
        {"query_id": 2, "query": "zzznotaterm merge", "mode": "AND", "k": 10},
        {"query_id": 3, "query": "merge", "mode": "OR", "k": 0},
    ]
    assert score_exhaustive(spark, tiny_index, qs).collect() == []
