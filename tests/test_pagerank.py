"""Link extraction, URL-normalizer replica, and PageRank math parity."""

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from searchengine_spark import corpus
from searchengine_spark.oracle import build_oracle_index, oracle_pagerank
from searchengine_spark.pagerank import (
    EDGES_SCHEMA,
    extract_edges,
    normalize_url,
    pagerank,
    share,
)
from searchengine_spark.xxhash64 import spark_xxhash64_str

BASE = "https://site1.example:443/p/3.html"


def test_normalize_url_reference_rules():
    cases = [
        ("https://site2.example/p/9.html", "https://site2.example:443/p/9.html"),
        ("9.html", "https://site1.example:443/p/9.html"),
        ("../p/9.html", "https://site1.example:443/p/9.html"),
        ("/abs/path.html", "https://site1.example:443/abs/path.html"),
        ("mailto:x@y.z", None),
        ("javascript:void(0)", None),
        ("ftp://h/f.html", None),
        ("https://site0.example/p/1.png", None),
        ("https://site0.example/p/1.jpeg", None),
        ("https://site0.example/p/1.txt", None),
        ("http://h.example/x.html", "http://h.example:80/x.html"),
        ("http://h.example:8080/x.html", "http://h.example:8080/x.html"),
        ("https://h.example", "https://h.example:443/"),
        ("a/./b/../c.html", "https://site1.example:443/p/a/c.html"),
    ]
    for raw, want in cases:
        assert normalize_url(raw, BASE) == want, raw


def test_extracted_edges_match_planted_graph(spark, tiny_pages_path):
    pages = spark.read.parquet(tiny_pages_path)
    got = {(r["src"], r["dst"]) for r in extract_edges(spark, pages).collect()}
    exp = {
        (spark_xxhash64_str(s), spark_xxhash64_str(d))
        for s, d in corpus.expected_edges(corpus.SCALES["tiny"])
    }
    assert got == exp


def test_pagerank_parity(spark, tiny_pages_path):
    pages = spark.read.parquet(tiny_pages_path)
    docs = pages.select(F.xxhash64("url").alias("doc_id"))
    edges = extract_edges(spark, pages)
    ranks = {
        r["doc_id"]: r["rank"]
        for r in pagerank(spark, edges, docs, threshold=1e-4).collect()
    }
    plist = pq.read_table(tiny_pages_path).to_pylist()
    idx = build_oracle_index(plist, edges=corpus.expected_edges(len(plist)))
    oranks = oracle_pagerank(idx, threshold=1e-4)
    assert ranks == oranks


def test_pagerank_is_bit_stable_across_parallelism(spark, tiny_pages_path):
    """Exact integer ranks: the same bits at any shuffle-partition count
    and any partitioning of the edge input, and equal to the oracle."""
    pages = spark.read.parquet(tiny_pages_path)
    docs = pages.select(F.xxhash64("url").alias("doc_id"))
    edge_rows = extract_edges(spark, pages).collect()
    plist = pq.read_table(tiny_pages_path).to_pylist()
    idx = build_oracle_index(plist, edges=corpus.expected_edges(len(plist)))
    oranks = oracle_pagerank(idx, threshold=1e-4)
    try:
        for shuffle_parts, edge_parts in ((1, 1), (2, 3), (8, 7)):
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
            edges = spark.createDataFrame(edge_rows, EDGES_SCHEMA).repartition(
                edge_parts
            )
            ranks = pagerank(spark, edges, docs, threshold=1e-4).collect()
            assert {r["doc_id"]: r["rank"] for r in ranks} == oranks
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_share_does_not_overflow(spark):
    """floor(17*u / d) without forming 17*u: exact against Python's
    big-int floor division where 17*u is far past 2^63."""
    cases = [
        (10**18, d)
        for d in (20, 60, 20 * 7, 20 * 999_983, 20 * (2**40 + 1))
    ] + [(2**63 - 1, 20), (0, 20), (150_000_000_000, 20 * 3)]
    got = (
        spark.createDataFrame(cases, "u long, d long")
        .select(share("u").alias("s"))
        .collect()
    )
    assert [r["s"] for r in got] == [17 * u // d for u, d in cases]


def test_pagerank_structure(spark, tiny_pages_path):
    """Planted-graph sanity: hub (page 0) outranks a generic page; sink has
    inbound rank; disconnected triangle nodes settle near 0.15/(1-0.85...)"""
    plist = pq.read_table(tiny_pages_path).to_pylist()
    idx = build_oracle_index(plist, edges=corpus.expected_edges(len(plist)))
    r = oracle_pagerank(idx, threshold=1e-6)
    by_url = {idx.doc_url[d]: v for d, v in r.items()}
    hub = by_url[corpus.url_of(0)]
    generic = by_url[corpus.url_of(50)]
    assert hub > generic
    # triangle nodes only receive from each other: rank = 0.15 + 0.85*r_other
    tri = [by_url[corpus.url_of(i)] for i in (195, 196, 197)]
    for v in tri:
        assert abs(v - 1.0) < 0.01  # symmetric triangle fixpoint = 1.0


def _split_pages(tmp_path, n_pages):
    """(full, partial): a pages dir of ``n_pages`` and a copy without
    its last part file."""
    import os
    import shutil

    full, partial = str(tmp_path / "full"), str(tmp_path / "partial")
    corpus.write_pages_parquet(full, n_pages, batch_rows=8)
    files = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    os.makedirs(partial)
    for f in files[:-1]:
        shutil.copy(os.path.join(full, f), partial)
    return full, partial, os.path.join(full, files[-1])


def test_pagerank_stage_reruns_when_pages_land(spark, tmp_path):
    """The stage fingerprint covers the pages' content: a page file added
    under the same path reruns the stage, so the new docs get a rank
    instead of the stage skipping as complete."""
    import shutil

    from searchengine_spark import catalog
    from searchengine_spark.pagerank import build_pagerank_stage

    full, pages, last = _split_pages(tmp_path, 40)
    root = str(tmp_path / "idx")

    def ranked():
        out = catalog.path(root, catalog.PAGERANKS)
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    build_pagerank_stage(spark, pages, root, "b1")
    before = ranked()
    shutil.copy(last, pages)
    build_pagerank_stage(spark, pages, root, "b2")
    want = {spark_xxhash64_str(r["url"]) for r in pq.read_table(full).to_pylist()}
    assert before < want
    assert ranked() == want


def test_rank_and_anchor_lineage_record_rows_and_bytes(spark, tmp_path):
    """The pagerank and anchors lineage rows carry their output's row
    count and bytes, read from the parquet footers."""
    from searchengine_spark import catalog, checkpoint
    from searchengine_spark.anchors import build_anchor_stage
    from searchengine_spark.pagerank import build_pagerank_stage

    _full, pages, _last = _split_pages(tmp_path, 40)
    root = str(tmp_path / "idx")
    build_pagerank_stage(spark, pages, root, "b1")
    build_anchor_stage(spark, pages, root, "b1")
    rows = {r["stage"]: r for r in checkpoint.read_metrics(root)}
    for stage, table in (("pagerank", catalog.PAGERANKS),
                         ("anchors", catalog.ANCHOR_INDEX)):
        out = catalog.path(root, table)
        assert rows[stage]["bytes"] > 0, stage
        assert rows[stage]["rows"] == spark.read.parquet(out).count() > 0, stage
