"""Inbound anchor-text field: extraction rules, aggregation vs the
planted link structure, and blended rank identity engine-vs-oracle with
a nonzero anchor weight (default weight 0 must stay bit-identical to
the reference-parity path)."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from searchengine_spark import catalog, corpus
from searchengine_spark.anchors import (
    anchor_terms,
    build_anchor_stage,
    extract_anchors,
)
from searchengine_spark.oracle import (
    build_oracle_index,
    oracle_all_queries,
    oracle_pagerank,
)
from searchengine_spark.query import score_exhaustive
from searchengine_spark.xxhash64 import spark_xxhash64_str


def test_extract_anchors_rules():
    html = (
        '<a href="#top">top</a><a href="">empty</a>'
        '<a href="https://site0.example:443/p/1.html">link 1</a>'
        '<a href="2.html">link\n2</a>'
    )
    assert extract_anchors(html) == [
        ("https://site0.example:443/p/1.html", "link 1"),
        ("2.html", "link\n2"),
    ]


def test_anchor_targets_are_edge_targets():
    """Anchors and PageRank read the same links: on pages whose tags
    carry an href-like attribute before the href, or leave a link
    unclosed, every anchor target is an edge target, and the text is
    credited to the href PageRank follows."""
    from searchengine_spark.pagerank import extract_hrefs

    pages = [
        '<a data-href="/x" href="/y">go</a>',
        '<p><a href="/y">dangling</p>',
        '<a class="c" href="/p" data-href="/q">p text</A>',
    ]
    for page in pages:
        edges = extract_hrefs(page)
        assert [u for u, _ in extract_anchors(page)] == edges, page
    assert extract_anchors(pages[0]) == [("/y", "go")]
    assert extract_anchors(pages[2])[0] == ("/p", "p text")


def test_anchor_terms_match_planted_edges(spark, tiny_pages_path):
    """The aggregated anchor field equals what the planted edge list
    implies: every edge contributes its anchor text's stemmed token set
    to the TARGET doc (anchor text is 'link <dst page id>'); noise
    anchors (#fragment, mailto:) contribute nothing."""
    pages = pq.read_table(tiny_pages_path).to_pylist()
    n = len(pages)
    in_corpus = {p["url"] for p in pages}
    want: Counter = Counter()
    for src, dst in corpus.expected_edges(n):
        assert dst in in_corpus
        d = spark_xxhash64_str(dst)
        page_id = int(dst.rsplit("/", 1)[1].split(".")[0])
        want[(d, "link")] += 1
        want[(d, str(page_id))] += 1
    got = {
        (r["doc_id"], r["term"]): r["n_anchors"]
        for r in anchor_terms(
            spark, spark.read.parquet(tiny_pages_path)
        ).collect()
    }
    assert got == dict(want)
    assert got, "fixture must plant links"


@pytest.mark.usefixtures("tiny_index")
def test_anchor_blend_rank_identity(spark, tiny_index, tiny_pages_path):
    build_anchor_stage(spark, tiny_pages_path, tiny_index, "anchor-1")
    assert os.path.isdir(catalog.path(tiny_index, catalog.ANCHOR_INDEX))

    pages = pq.read_table(tiny_pages_path).to_pylist()
    idx = build_oracle_index(pages, corpus.expected_edges(len(pages)))
    oracle_pagerank(idx)
    # 'link' appears in every anchor; pair it with corpus vocab so the
    # anchor weight has candidates to reorder
    qs = [
        {"query_id": 0, "query": "link", "mode": "OR", "k": 15},
        {"query_id": 1, "query": f"link {corpus.VOCAB[0]}", "mode": "OR",
         "k": 15},
        {"query_id": 2, "query": corpus.VOCAB[1], "mode": "OR", "k": 15},
        {"query_id": 3, "query": f"link {corpus.VOCAB[2]}", "mode": "AND",
         "k": 15},
    ]

    def as_map(rows):
        return {
            (r["query_id"], r["rank"]): (r["doc_id"], round(r["blended"], 9))
            for r in rows
        }

    # default weight: bit-identical to the reference-parity path even
    # with the anchor index present on disk
    base = as_map(score_exhaustive(spark, tiny_index, qs).collect())
    zero = as_map(
        score_exhaustive(spark, tiny_index, qs, w_anchor=0.0).collect()
    )
    assert base == zero == as_map(oracle_all_queries(idx, qs))

    eng = as_map(
        score_exhaustive(spark, tiny_index, qs, w_anchor=0.1).collect()
    )
    gol = as_map(oracle_all_queries(idx, qs, w_anchor=0.1))
    assert eng == gol
    assert eng != base, "anchor weight must actually move the blend"


def test_merge_refreshes_anchor_index(spark, tmp_path):
    """A pages-backed merge refreshes an existing anchor index along
    with titles/docstats: after stream ingest + merge, the anchor field
    equals a from-scratch aggregation over the full corpus. The second
    merge grows the pages dir IN PLACE at the same path — lineage keys
    on (stage, fingerprint) regardless of build_id, so the anchor stage
    fingerprint must fold the pages CONTENT (not just the path) or the
    refresh is skipped forever and the anchor field stays stale."""
    import shutil

    from searchengine_spark import catalog as cat
    from searchengine_spark.indexer import build_index
    from searchengine_spark.merge import merge_tokens_stage
    from searchengine_spark.streaming.ingest import stream_tokenize

    base = str(tmp_path)
    # generate the FINAL 150-page corpus once (page content depends on
    # n_pages via the planted link graph), then stage file subsets of it
    grown_dir = os.path.join(base, "pages_grown")
    corpus.write_pages_parquet(grown_dir, 150, batch_rows=30)
    files = sorted(f for f in os.listdir(grown_dir) if f.endswith(".parquet"))
    assert len(files) >= 3
    initial_dir = os.path.join(base, "pages_initial")
    stream_dir = os.path.join(base, "pages_stream")
    full_dir = os.path.join(base, "pages_full")  # the ONE merge path
    os.makedirs(initial_dir)
    os.makedirs(stream_dir)
    os.makedirs(full_dir)
    for f in files[:-2]:
        shutil.copy(os.path.join(grown_dir, f), os.path.join(initial_dir, f))
    for f in files[:-1]:
        shutil.copy(os.path.join(grown_dir, f), os.path.join(full_dir, f))
    shutil.copy(os.path.join(grown_dir, files[-2]),
                os.path.join(stream_dir, files[-2]))

    root = os.path.join(base, "idx")
    build_index(spark, initial_dir, root, n_chunks=2, n_buckets=2)
    build_anchor_stage(spark, initial_dir, root, "build-1")

    def anchor_map(src) -> dict:
        df = (
            spark.read.parquet(src)
            if isinstance(src, str) and src.startswith(root)
            else anchor_terms(spark, spark.read.parquet(src))
        )
        return {
            (r["doc_id"], r["term"]): r["n_anchors"] for r in df.collect()
        }

    init = anchor_map(initial_dir)

    q = stream_tokenize(
        spark, stream_dir, cat.path(root, cat.TOKENS),
        os.path.join(base, "ckpt"), n_buckets=2,
    )
    q.awaitTermination()
    rep = merge_tokens_stage(spark, root, pages_path=full_dir)
    assert rep["delta_files"] > 0

    got = anchor_map(cat.path(root, cat.ANCHOR_INDEX))
    assert got == anchor_map(full_dir)
    # and it actually grew past the initial slice
    assert got != init

    # --- grow pages IN PLACE at the same path, stream + merge again ---
    shutil.copy(os.path.join(grown_dir, files[-1]),
                os.path.join(stream_dir, files[-1]))
    q = stream_tokenize(
        spark, stream_dir, cat.path(root, cat.TOKENS),
        os.path.join(base, "ckpt"), n_buckets=2,
    )
    q.awaitTermination()
    shutil.copy(os.path.join(grown_dir, files[-1]),
                os.path.join(full_dir, files[-1]))
    rep = merge_tokens_stage(spark, root, pages_path=full_dir)
    assert rep["delta_files"] > 0

    got2 = anchor_map(cat.path(root, cat.ANCHOR_INDEX))
    assert got2 == anchor_map(grown_dir)
    assert got2 != got, "in-place growth must refresh the anchor field"
