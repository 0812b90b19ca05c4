"""Incremental segment merge: stream-append token chunks, fold them in
with merge_tokens_stage, and assert query results are rank-identical to
a from-scratch rebuild over the full corpus — while untouched buckets
were never rewritten."""

import os
import shutil

import pytest

from searchengine_spark import catalog, checkpoint, corpus
from searchengine_spark.indexer import build_index, build_postings_stage
from searchengine_spark.merge import merge_tokens_stage, pending_delta_files
from searchengine_spark.wand import score_wand

MERGEDIR = "/tmp/se_spark_fixtures/merge"
N_PAGES = 200
N_BUCKETS = 4


@pytest.fixture(scope="module")
def merged_and_rebuilt(spark):
    shutil.rmtree(MERGEDIR, ignore_errors=True)
    full_dir = os.path.join(MERGEDIR, "pages_full")
    # many part files so the corpus can be split into "already indexed"
    # and "arriving via the stream" (content depends only on page ids)
    corpus.write_pages_parquet(full_dir, N_PAGES, batch_rows=40)
    files = sorted(
        f for f in os.listdir(full_dir) if f.endswith(".parquet")
    )
    assert len(files) >= 8
    initial_dir = os.path.join(MERGEDIR, "pages_initial")
    stream_dir = os.path.join(MERGEDIR, "pages_stream")
    os.makedirs(initial_dir)
    os.makedirs(stream_dir)
    for f in files[:-4]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(initial_dir, f))
    for f in files[-4:]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(stream_dir, f))

    root = os.path.join(MERGEDIR, "index_merged")
    build_index(spark, initial_dir, root, n_chunks=2, n_buckets=N_BUCKETS)

    from searchengine_spark.streaming.ingest import stream_tokenize

    q = stream_tokenize(
        spark,
        stream_dir,
        catalog.path(root, catalog.TOKENS),
        os.path.join(MERGEDIR, "ckpt"),
        n_buckets=N_BUCKETS,
    )
    q.awaitTermination()

    report = merge_tokens_stage(spark, root, pages_path=full_dir)
    assert report["delta_files"] > 0

    root2 = os.path.join(MERGEDIR, "index_rebuilt")
    build_index(spark, full_dir, root2, n_chunks=2, n_buckets=N_BUCKETS)
    return root, root2, report


def segment_rows(spark, root, b):
    """Bucket ``b``'s segment rows (every POSTINGS_SCHEMA column but the
    bucket partition), sorted."""
    from searchengine_spark.indexer import POSTINGS_SCHEMA

    cols = [f.name for f in POSTINGS_SCHEMA.fields if f.name != "bucket"]
    path = os.path.join(
        catalog.path(root, catalog.POSTINGS), "group=*", f"bucket={b}"
    )
    return sorted(tuple(row) for row in
                  spark.read.parquet(path).select(*cols).collect())


def _topk(spark, root):
    qs = corpus.reference_queries()
    return {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["bm25"], 9))
        for r in score_wand(spark, root, qs).collect()
    }


def test_merge_rank_identical_to_rebuild(spark, merged_and_rebuilt):
    root, root2, _ = merged_and_rebuilt
    from searchengine_spark.indexer import read_stats

    assert read_stats(spark, root) == read_stats(spark, root2)
    assert _topk(spark, root) == _topk(spark, root2)


def test_merged_segments_equal_rebuild_byte_for_byte(spark, merged_and_rebuilt):
    """Every merged bucket's segment rows (all POSTINGS_SCHEMA columns
    but the bucket partition) equal a from-scratch rebuild's — the
    byte-identity the merge docstring claims."""
    root, root2, report = merged_and_rebuilt
    assert report["merged_buckets"]
    for b in report["merged_buckets"]:
        merged = segment_rows(spark, root, b)
        assert merged and merged == segment_rows(spark, root2, b), f"bucket {b}"


def test_corpus_facts_come_from_postings_and_meta(spark, merged_and_rebuilt):
    """After a build and after a merge, BM25's corpus facts have one
    home each: n_docs/avgdl in _meta.json (equal to a Spark count/avg
    over docstats, read with no Spark job) and df in the segment rows
    (idf equal to the oracle's) — no dictionary/ or stats/ table and no
    salt-plan scratch is left on disk."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from searchengine_spark import bm25
    from searchengine_spark.indexer import read_stats
    from searchengine_spark.oracle import build_oracle_index
    from searchengine_spark.query import all_query_terms, term_idfs

    root, root2, _ = merged_and_rebuilt
    full_dir = os.path.join(MERGEDIR, "pages_full")
    oracle = build_oracle_index(pq.read_table(full_dir).to_pylist())
    terms = all_query_terms(corpus.reference_queries())
    sc = spark.sparkContext
    for r in (root2, root):  # built, merged
        for gone in ("dictionary", "stats"):
            assert not os.path.exists(os.path.join(r, gone)), (r, gone)
        assert glob.glob(os.path.join(r, "**", "*salt_plan*"), recursive=True) == []
        meta = catalog.read_meta(r)
        agg = spark.read.parquet(catalog.path(r, catalog.DOCSTATS)).agg(
            F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]
        assert (meta["n_docs"], meta["avgdl"]) == (agg["n"], agg["avgdl"])
        assert meta["n_docs"] == oracle.n_docs
        group = f"read-stats-{os.path.basename(r)}"
        sc.setJobGroup(group, "read_stats")
        try:
            n_docs, avgdl = read_stats(spark, r)
        finally:
            sc.setJobGroup(None, None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert (n_docs, avgdl) == (meta["n_docs"], meta["avgdl"])
        want = {
            t: bm25.idf(n_docs, len(oracle.postings[t]))
            for t in terms if t in oracle.postings
        }
        assert want and term_idfs(spark, r, terms, n_docs) == want


def test_merge_is_incremental_and_idempotent(spark, merged_and_rebuilt):
    root, _, report = merged_and_rebuilt
    # a second merge with no new tokens is a no-op
    again = merge_tokens_stage(spark, root)
    assert again["delta_files"] == 0
    # merge recorded the postings stage complete under the NEW tokens
    # manifest: a follow-up build_postings_stage must resume as a no-op
    n_before = len(
        [m for m in checkpoint.read_metrics(root) if m["stage"] == "postings"]
    )
    build_postings_stage(spark, root, "post-merge", n_buckets=N_BUCKETS)
    n_after = len(
        [m for m in checkpoint.read_metrics(root) if m["stage"] == "postings"]
    )
    assert n_after == n_before, "postings rebuilt after merge — lineage broken"


def test_merge_docstats_cover_streamed_docs(spark, merged_and_rebuilt):
    root, root2, _ = merged_and_rebuilt
    a = spark.read.parquet(catalog.path(root, catalog.DOCSTATS))
    b = spark.read.parquet(catalog.path(root2, catalog.DOCSTATS))
    rows_a = {(r["doc_id"], r["url"], r["doc_len"]) for r in a.collect()}
    rows_b = {(r["doc_id"], r["url"], r["doc_len"]) for r in b.collect()}
    assert rows_a == rows_b  # pages_path given => exact urls too


def test_merge_crash_resume_no_duplicates(spark, merged_and_rebuilt):
    """A merge killed between bucket swaps must resume WITHOUT
    re-unioning the delta into already-merged buckets (that would
    duplicate every streamed posting and double df/n_salts/idf)."""
    _, root2, _ = merged_and_rebuilt
    from searchengine_spark.indexer import build_index as _bi
    from searchengine_spark.streaming.ingest import stream_tokenize

    root4 = os.path.join(MERGEDIR, "index_merged_crash")
    shutil.rmtree(root4, ignore_errors=True)
    _bi(spark, os.path.join(MERGEDIR, "pages_initial"), root4,
        n_chunks=2, n_buckets=N_BUCKETS)
    q = stream_tokenize(
        spark,
        os.path.join(MERGEDIR, "pages_stream"),
        catalog.path(root4, catalog.TOKENS),
        os.path.join(MERGEDIR, "ckpt_crash"),
        n_buckets=N_BUCKETS,
    )
    q.awaitTermination()
    with pytest.raises(KeyboardInterrupt):
        merge_tokens_stage(
            spark, root4, pages_path=os.path.join(MERGEDIR, "pages_full"),
            kill_after=1,
        )
    report = merge_tokens_stage(
        spark, root4, pages_path=os.path.join(MERGEDIR, "pages_full")
    )
    # the resumed run must merge only the remaining buckets
    merged_rows = [
        m for m in checkpoint.read_metrics(root4) if m["stage"] == "merge"
    ]
    assert len(merged_rows) == len(set(
        m["partition_id"] for m in merged_rows
    )), "a bucket was merged twice"
    assert report["delta_files"] > 0
    assert _topk(spark, root4) == _topk(spark, root2)


def test_merge_without_pages_path(spark, merged_and_rebuilt):
    """The approximate docstats path (doc_len recovered from the delta
    tokens, NULL urls) still yields rank-identical scores — n_docs and
    avgdl are what BM25 needs, urls are serving-only."""
    _, root2, _ = merged_and_rebuilt
    from searchengine_spark.indexer import build_index as _bi
    from searchengine_spark.indexer import read_stats
    from searchengine_spark.streaming.ingest import stream_tokenize

    root3 = os.path.join(MERGEDIR, "index_merged_nopages")
    shutil.rmtree(root3, ignore_errors=True)
    _bi(spark, os.path.join(MERGEDIR, "pages_initial"), root3,
        n_chunks=2, n_buckets=N_BUCKETS)
    q = stream_tokenize(
        spark,
        os.path.join(MERGEDIR, "pages_stream"),
        catalog.path(root3, catalog.TOKENS),
        os.path.join(MERGEDIR, "ckpt_nopages"),
        n_buckets=N_BUCKETS,
    )
    q.awaitTermination()
    report = merge_tokens_stage(spark, root3)  # no pages_path
    assert report["delta_files"] > 0
    assert read_stats(spark, root3) == read_stats(spark, root2)
    assert _topk(spark, root3) == _topk(spark, root2)
    ds = spark.read.parquet(catalog.path(root3, catalog.DOCSTATS))
    n_null = ds.filter(ds.url.isNull()).count()
    assert n_null > 0, "streamed docs should carry NULL urls on this path"


def test_maybe_merge_compaction_policy(spark, tmp_path):
    """maybe_merge_tiered's file-count trigger defers below
    ``max_delta_files`` (tokens stay pending, nothing rewritten) and
    compacts once the pending file count reaches it."""
    from searchengine_spark.merge import maybe_merge_tiered, pending_delta_files
    from searchengine_spark.streaming.ingest import stream_tokenize

    full_dir = str(tmp_path / "pages_full")
    corpus.write_pages_parquet(full_dir, 120, batch_rows=30)
    files = sorted(f for f in os.listdir(full_dir) if f.endswith(".parquet"))
    initial_dir, stream_dir = str(tmp_path / "init"), str(tmp_path / "stream")
    os.makedirs(initial_dir)
    os.makedirs(stream_dir)
    for f in files[:-2]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(initial_dir, f))
    for f in files[-2:]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(stream_dir, f))

    root = str(tmp_path / "idx")
    build_index(spark, initial_dir, root, n_chunks=2, n_buckets=N_BUCKETS)
    assert pending_delta_files(root) == []

    q = stream_tokenize(
        spark, stream_dir, catalog.path(root, catalog.TOKENS),
        str(tmp_path / "ckpt"), n_buckets=N_BUCKETS,
    )
    q.awaitTermination()
    n_pending = len(pending_delta_files(root))
    assert n_pending > 0

    # the size tier never fires: ratio 0 and a byte floor above the delta
    by_count = dict(ratio=0, min_delta_bytes=1 << 40)
    deferred = maybe_merge_tiered(
        spark, root, max_delta_files=n_pending + 1, **by_count
    )
    assert deferred["deferred"] and deferred["merged_buckets"] == []
    assert len(pending_delta_files(root)) == n_pending  # nothing consumed

    done = maybe_merge_tiered(
        spark, root, max_delta_files=n_pending, pages_path=full_dir, **by_count
    )
    assert not done["deferred"] and done["delta_files"] == n_pending
    assert pending_delta_files(root) == []
    # post-merge index passes fsck clean (lineage recorded, _meta.json
    # scalars consistent with the rewritten docstats)
    from searchengine_spark.fsck import fsck

    assert fsck(spark, root).collect() == []


def test_merge_crash_between_swap_and_record_recovers(spark):
    """The deadliest crash window: segments swapped in, lineage row not
    yet written. A naive resume would re-union the delta into the
    already-merged bucket (duplicating every streamed posting); the
    bucket's marker says its segments already hold the delta, so the
    resume must only record it and end rank-identical to, with every
    bucket's segment rows equal to, a from-scratch rebuild."""
    import searchengine_spark.merge as merge_mod
    from searchengine_spark.streaming.ingest import stream_tokenize

    base = os.path.join(MERGEDIR, "crashwin")
    shutil.rmtree(base, ignore_errors=True)
    full_dir = os.path.join(MERGEDIR, "pages_full")  # from module fixture dir
    if not os.path.exists(full_dir):
        corpus.write_pages_parquet(full_dir, N_PAGES, batch_rows=40)
    files = sorted(f for f in os.listdir(full_dir) if f.endswith(".parquet"))
    initial_dir = os.path.join(base, "pages_initial")
    stream_dir = os.path.join(base, "pages_stream")
    os.makedirs(initial_dir)
    os.makedirs(stream_dir)
    for f in files[:-4]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(initial_dir, f))
    for f in files[-4:]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(stream_dir, f))
    root = os.path.join(base, "index")
    build_index(spark, initial_dir, root, n_chunks=2, n_buckets=N_BUCKETS)
    q = stream_tokenize(
        spark, stream_dir, catalog.path(root, catalog.TOKENS),
        os.path.join(base, "ckpt"), n_buckets=N_BUCKETS,
    )
    q.awaitTermination()

    real_record = checkpoint.record
    state = {"merges": 0}

    def dying_record(root_, build_id, stage, *a, **kw):
        if stage == "merge":
            state["merges"] += 1
            if state["merges"] == 1:
                raise KeyboardInterrupt("simulated crash before the record")
        return real_record(root_, build_id, stage, *a, **kw)

    merge_mod.checkpoint.record = dying_record
    try:
        with pytest.raises(KeyboardInterrupt):
            merge_tokens_stage(spark, root, pages_path=full_dir, kill_after=99)
    finally:
        merge_mod.checkpoint.record = real_record

    report = merge_tokens_stage(spark, root, pages_path=full_dir)
    assert report["delta_files"] > 0
    merged_rows = [
        m for m in checkpoint.read_metrics(root) if m["stage"] == "merge"
    ]
    assert len(merged_rows) == len({m["partition_id"] for m in merged_rows})

    root2 = os.path.join(base, "index_rebuilt")
    build_index(spark, full_dir, root2, n_chunks=2, n_buckets=N_BUCKETS)
    qs = corpus.reference_queries()
    a = {(r["query_id"], r["rank"], r["doc_id"])
         for r in score_wand(spark, root, qs).collect()}
    b = {(r["query_id"], r["rank"], r["doc_id"])
         for r in score_wand(spark, root2, qs).collect()}
    assert a == b, "recovered merge diverged from a from-scratch rebuild"
    for bucket in range(N_BUCKETS):
        merged = segment_rows(spark, root, bucket)
        assert merged and merged == segment_rows(spark, root2, bucket), bucket


def test_tiered_compaction_unattended_ingest(spark):
    """Size-tiered policy: N ingest batches with maybe_merge_tiered
    after each — merges must fire WITHOUT manual triggering, pending
    delta files must stay bounded by the thresholds, and the end state
    must be rank-identical to a from-scratch rebuild."""
    from searchengine_spark.merge import (
        _pending_with_sizes,
        maybe_merge_tiered,
    )
    from searchengine_spark.streaming.ingest import stream_tokenize

    base = os.path.join(MERGEDIR, "tiered")
    shutil.rmtree(base, ignore_errors=True)
    full_dir = os.path.join(base, "pages_full")
    corpus.write_pages_parquet(full_dir, N_PAGES, batch_rows=25)
    files = sorted(f for f in os.listdir(full_dir) if f.endswith(".parquet"))
    n_stream = 4
    initial_dir = os.path.join(base, "pages_initial")
    os.makedirs(initial_dir)
    for f in files[:-n_stream]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(initial_dir, f))
    root = os.path.join(base, "index")
    build_index(spark, initial_dir, root, n_chunks=2, n_buckets=N_BUCKETS)

    saw_merge = saw_defer = False
    for i, f in enumerate(files[-n_stream:]):
        sdir = os.path.join(base, f"stream{i}")
        os.makedirs(sdir)
        shutil.copy(os.path.join(full_dir, f), os.path.join(sdir, f))
        q = stream_tokenize(
            spark, sdir, catalog.path(root, catalog.TOKENS),
            os.path.join(base, f"ckpt{i}"), n_buckets=N_BUCKETS,
        )
        q.awaitTermination()
        # tiny min_delta_bytes so the size tier (not the file backstop)
        # drives merging at fixture scale; high ratio defers sometimes
        rep = maybe_merge_tiered(
            spark, root, ratio=0.05, min_delta_bytes=1,
            max_delta_files=10_000, pages_path=full_dir,
        )
        saw_merge |= not rep["deferred"]
        saw_defer |= rep["deferred"]
        # bounded pending: never more than one batch's files outstanding
        assert len(_pending_with_sizes(root)) <= N_BUCKETS * 4
    assert saw_merge, "size tier never fired across the whole ingest"
    # drain any deferred tail so the comparison is apples-to-apples
    maybe_merge_tiered(spark, root, ratio=0.0, min_delta_bytes=1,
                       pages_path=full_dir)
    root2 = os.path.join(base, "index_rebuilt")
    build_index(spark, full_dir, root2, n_chunks=2, n_buckets=N_BUCKETS)
    assert _topk(spark, root) == _topk(
        spark, root2
    ), "tiered-compacted index diverged from a from-scratch rebuild"


def test_merge_crash_then_grown_delta_restores_pristine(spark):
    """Crash in the swap/record gap, then MORE stream token files arrive
    before the resume: the grown delta yields a different merge_fp, so
    no lineage row covers the swapped bucket. The resume must merge into
    it only the delta files its marker does not list (re-unioning the
    full delta into segments that already absorbed the old one would
    duplicate postings and inflate df/idf) and end rank-identical to,
    with every bucket's segment rows equal to, a full rebuild. A marker
    that does not parse must make the merge refuse."""
    import searchengine_spark.merge as merge_mod
    from searchengine_spark.streaming.ingest import stream_tokenize

    base = os.path.join(MERGEDIR, "growndelta")
    shutil.rmtree(base, ignore_errors=True)
    full_dir = os.path.join(base, "pages_full")
    corpus.write_pages_parquet(full_dir, N_PAGES, batch_rows=40)
    files = sorted(f for f in os.listdir(full_dir) if f.endswith(".parquet"))
    initial_dir = os.path.join(base, "pages_initial")
    stream1_dir = os.path.join(base, "pages_stream1")
    stream2_dir = os.path.join(base, "pages_stream2")
    for d in (initial_dir, stream1_dir, stream2_dir):
        os.makedirs(d)
    for f in files[:-4]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(initial_dir, f))
    for f in files[-4:-2]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(stream1_dir, f))
    for f in files[-2:]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(stream2_dir, f))
    root = os.path.join(base, "index")
    build_index(spark, initial_dir, root, n_chunks=2, n_buckets=N_BUCKETS)

    def ingest(src, ckpt):
        q = stream_tokenize(
            spark, src, catalog.path(root, catalog.TOKENS),
            os.path.join(base, ckpt), n_buckets=N_BUCKETS,
        )
        q.awaitTermination()

    ingest(stream1_dir, "ckpt1")

    real_record = checkpoint.record
    state = {"merges": 0}

    def dying_record(root_, build_id, stage, *a, **kw):
        if stage == "merge":
            state["merges"] += 1
            if state["merges"] == 1:
                raise KeyboardInterrupt("simulated crash before the record")
        return real_record(root_, build_id, stage, *a, **kw)

    merge_mod.checkpoint.record = dying_record
    try:
        with pytest.raises(KeyboardInterrupt):
            merge_tokens_stage(spark, root, pages_path=full_dir, kill_after=99)
    finally:
        merge_mod.checkpoint.record = real_record

    # the delta GROWS before the resume — merge_fp changes
    ingest(stream2_dir, "ckpt2")
    report = merge_tokens_stage(spark, root, pages_path=full_dir)
    assert report["delta_files"] > 0

    root2 = os.path.join(base, "index_rebuilt")
    build_index(spark, full_dir, root2, n_chunks=2, n_buckets=N_BUCKETS)
    assert _topk(spark, root) == _topk(
        spark, root2
    ), "grown-delta recovery diverged from a from-scratch rebuild"
    for bucket in range(N_BUCKETS):
        merged = segment_rows(spark, root, bucket)
        assert merged and merged == segment_rows(spark, root2, bucket), bucket

    # a marker that does not parse must refuse (re-merging would
    # silently duplicate an unknown subset)
    postings_root = catalog.path(root, catalog.POSTINGS)
    merged_b = report["merged_buckets"][0]
    g = merged_b // catalog.BUCKET_GROUP_SIZE
    bdir = os.path.join(postings_root, f"group={g}", f"bucket={merged_b}")
    with open(os.path.join(bdir, "_merge_fp"), "w") as fh:
        fh.write("fp-of-a-merge-nobody-recorded")
    shutil.copy(
        os.path.join(full_dir, files[0]),
        os.path.join(stream2_dir, "dup-trigger.parquet"),
    )
    ingest(stream2_dir, "ckpt4")
    assert merged_b in {
        int(p.split("=", 1)[1])
        for rel in pending_delta_files(root)
        for p in rel.split(os.sep)
        if p.startswith("bucket=")
    }, "trigger delta missed the marked bucket; widen the trigger corpus"
    with pytest.raises(RuntimeError, match="rebuild"):
        merge_tokens_stage(spark, root, pages_path=full_dir)


def test_merge_resume_after_recorded_bucket_with_grown_delta(spark):
    """A merge killed after one bucket is recorded (kill_after=1), then
    a second stream batch lands before the resume: the recorded bucket
    holds the first batch already, so it must merge only the delta files
    its marker says it has not absorbed. When the second batch brings
    that bucket nothing, the resume still re-stamps its marker, so a
    third batch merges into it instead of being refused as foreign.
    Every bucket's segment rows end equal to a from-scratch rebuild's
    (re-merging the whole grown delta counts the first batch's postings
    twice in the recorded bucket)."""
    from searchengine_spark.streaming.ingest import stream_tokenize

    base = os.path.join(MERGEDIR, "recordedgrown")
    shutil.rmtree(base, ignore_errors=True)
    full_dir = os.path.join(base, "pages_full")
    corpus.write_pages_parquet(full_dir, N_PAGES, batch_rows=40)
    files = sorted(f for f in os.listdir(full_dir) if f.endswith(".parquet"))
    dirs = {name: os.path.join(base, name)
            for name in ("pages_initial", "pages_stream1", "pages_stream2")}
    for name, part in (("pages_initial", files[:-4]),
                       ("pages_stream1", files[-4:-2]),
                       ("pages_stream2", files[-2:])):
        os.makedirs(dirs[name])
        for f in part:
            shutil.copy(os.path.join(full_dir, f), os.path.join(dirs[name], f))
    root = os.path.join(base, "index")
    build_index(spark, dirs["pages_initial"], root, n_chunks=2,
                n_buckets=N_BUCKETS)

    def ingest(src, ckpt):
        stream_tokenize(
            spark, src, catalog.path(root, catalog.TOKENS),
            os.path.join(base, ckpt), n_buckets=N_BUCKETS,
        ).awaitTermination()

    ingest(dirs["pages_stream1"], "ckpt1")
    with pytest.raises(KeyboardInterrupt):
        merge_tokens_stage(spark, root, pages_path=full_dir, kill_after=1)
    batch1 = set(pending_delta_files(root))
    ingest(dirs["pages_stream2"], "ckpt2")
    # bucket 0 (the one recorded before the kill) gets nothing from the
    # second batch: its bucket=0 files are held back and land as a third
    # batch after the resume
    tokens = catalog.path(root, catalog.TOKENS)
    held_root = os.path.join(base, "held")
    held = [rel for rel in pending_delta_files(root)
            if rel not in batch1 and "bucket=0" in rel.split(os.sep)]
    assert held
    for rel in held:
        os.makedirs(os.path.dirname(os.path.join(held_root, rel)), exist_ok=True)
        os.replace(os.path.join(tokens, rel), os.path.join(held_root, rel))
    report = merge_tokens_stage(spark, root, pages_path=full_dir)
    assert report["merged_buckets"] == list(range(N_BUCKETS))
    for rel in held:
        os.replace(os.path.join(held_root, rel), os.path.join(tokens, rel))
    report = merge_tokens_stage(spark, root, pages_path=full_dir)
    assert report["merged_buckets"] == [0]

    root2 = os.path.join(base, "index_rebuilt")
    build_index(spark, full_dir, root2, n_chunks=2, n_buckets=N_BUCKETS)
    for b in range(N_BUCKETS):
        merged = segment_rows(spark, root, b)
        assert merged and merged == segment_rows(spark, root2, b), f"bucket {b}"


def test_merge_refuses_delta_tokens_under_wrong_bucket(spark, tiny_index, tmp_path):
    """A delta token file under bucket=<b> whose terms hash to another
    bucket (a writer with a different n_buckets) makes the merge raise —
    the check runs on the rows the docstats upsert reads — before
    anything is written: bucket b's live segments, the docstats rows and
    the _meta.json n_docs/avgdl stay as they were. Its doc ids are new
    (shifted by one), so a docstats refresh ahead of the check would
    change n_docs."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    root = str(tmp_path / "idx")
    shutil.copytree(tiny_index, root)
    tokens = catalog.path(root, catalog.TOKENS)
    src = sorted(glob.glob(os.path.join(tokens, "chunk=*", "bucket=0", "*.parquet")))[0]
    wrong = os.path.join(tokens, "chunk=stream-wrong", "bucket=1")
    os.makedirs(wrong)
    table = pq.read_table(src)
    i = table.schema.get_field_index("doc_id")
    table = table.set_column(i, "doc_id", pc.add(table["doc_id"], 1))
    pq.write_table(table, os.path.join(wrong, "part-00000.parquet"))
    bdir = os.path.join(catalog.path(root, catalog.POSTINGS), "group=0", "bucket=1")

    def listing():
        return {
            f: (os.path.getsize(os.path.join(bdir, f)),
                os.path.getmtime(os.path.join(bdir, f)))
            for f in os.listdir(bdir)
        }

    def docstats():
        return sorted(tuple(r) for r in spark.read.parquet(
            catalog.path(root, catalog.DOCSTATS)).collect())

    def scalars():
        meta = catalog.read_meta(root)
        return meta["n_docs"], meta["avgdl"]

    before = listing()
    assert before
    docstats_before, scalars_before = docstats(), scalars()
    with pytest.raises(Exception, match="hashing to a different bucket"):
        merge_tokens_stage(spark, root)
    assert listing() == before
    assert scalars() == scalars_before
    assert docstats() == docstats_before
    assert catalog.list_entries(root) == catalog.list_entries(tiny_index)


def test_wand_and_mode_empty_term_empties_conjunction():
    """AND with any zero-posting term must return [] — not the
    intersection of only the non-empty terms."""
    import numpy as np

    from searchengine_spark.wand import _TermList, wand_topk

    docs = np.array([1, 2, 3], dtype=np.int64)
    norms = np.array([0.5, 0.4, 0.3])
    full = _TermList(
        1.0, docs, norms, np.array([3], dtype=np.int64), np.array([1.0])
    )
    full.max_score = 1.0
    empty = _TermList(
        1.0, np.array([], dtype=np.int64), np.array([]),
        np.array([], dtype=np.int64), np.array([]),
    )
    assert wand_topk([full], 5, mode="AND")
    assert wand_topk([full, empty], 5, mode="AND") == []


def test_vacuum_tokens_lifecycle(spark):
    """vacuum_tokens reclaims the merged token substrate while keeping
    serving, fsck health, future stream deltas + merges, and the
    replayed-micro-batch exclusion; it refuses with pending deltas and a
    vacuumed root refuses build_index."""
    from searchengine_spark.fsck import fsck
    from searchengine_spark.merge import (
        _pending_with_sizes,
        maybe_merge_tiered,
        vacuum_tokens,
    )
    from searchengine_spark.streaming.ingest import stream_tokenize

    base = os.path.join(MERGEDIR, "vacuum")
    shutil.rmtree(base, ignore_errors=True)
    full_dir = os.path.join(base, "pages_full")
    corpus.write_pages_parquet(full_dir, N_PAGES, batch_rows=40)
    files = sorted(f for f in os.listdir(full_dir) if f.endswith(".parquet"))
    initial_dir = os.path.join(base, "pages_initial")
    os.makedirs(initial_dir)
    for f in files[:-2]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(initial_dir, f))
    root = os.path.join(base, "index")
    build_index(spark, initial_dir, root, n_chunks=2, n_buckets=N_BUCKETS)
    tokens_root = catalog.path(root, catalog.TOKENS)

    # stream one batch in and merge it, so the vacuum covers BOTH build
    # chunks and stream chunks
    s0 = os.path.join(base, "stream0")
    os.makedirs(s0)
    shutil.copy(os.path.join(full_dir, files[-2]), os.path.join(s0, files[-2]))
    stream_tokenize(spark, s0, tokens_root, os.path.join(base, "ckpt0"),
                    n_buckets=N_BUCKETS).awaitTermination()

    # refused while the delta is pending
    with pytest.raises(RuntimeError, match="pending"):
        vacuum_tokens(root)

    merge_tokens_stage(spark, root, pages_path=full_dir)
    before = _topk(spark, root)

    # keep one already-merged stream chunk aside to simulate a replayed
    # micro-batch landing AFTER the vacuum (same path, same bytes)
    chunk_dirs = [d for d in os.listdir(tokens_root) if "stream" in d]
    assert chunk_dirs
    replay_src = os.path.join(tokens_root, chunk_dirs[0])
    replay_aside = os.path.join(base, "replay_aside")
    shutil.copytree(replay_src, replay_aside)

    rep = vacuum_tokens(root)
    assert rep["files_removed"] > 0 and rep["bytes_reclaimed"] > 0
    leftover = [
        f for _dp, _dirs, fs in os.walk(tokens_root) for f in fs
        if f.endswith(".parquet")
    ]
    assert leftover == [], leftover
    # idempotent re-run
    rep2 = vacuum_tokens(root)
    assert rep2["files_removed"] == 0

    # serving unchanged, fsck healthy (lineage recorded under the
    # post-vacuum tree fingerprint)
    assert _topk(spark, root) == before
    findings = fsck(spark, root).collect()
    assert findings == [], findings

    # a replayed already-merged micro-batch must NOT re-enter as delta
    shutil.copytree(replay_aside, replay_src)
    assert _pending_with_sizes(root) == []
    rep3 = maybe_merge_tiered(spark, root, ratio=0.0, min_delta_bytes=1,
                              pages_path=full_dir)
    assert rep3["deferred"] or rep3["delta_files"] == 0
    assert _topk(spark, root) == before

    # a NEW stream batch after the vacuum still merges; end state is
    # rank-identical to a from-scratch rebuild over the full corpus
    s1 = os.path.join(base, "stream1")
    os.makedirs(s1)
    shutil.copy(os.path.join(full_dir, files[-1]), os.path.join(s1, files[-1]))
    stream_tokenize(spark, s1, tokens_root, os.path.join(base, "ckpt1"),
                    n_buckets=N_BUCKETS).awaitTermination()
    rep4 = merge_tokens_stage(spark, root, pages_path=full_dir)
    assert rep4["delta_files"] > 0
    root2 = os.path.join(base, "index_rebuilt")
    build_index(spark, full_dir, root2, n_chunks=2, n_buckets=N_BUCKETS)
    assert _topk(spark, root) == _topk(spark, root2)

    # a vacuumed root refuses a rebuild (docstats would silently rebuild
    # from the emptied tokens tree)
    with pytest.raises(RuntimeError, match="vacuumed"):
        build_index(spark, full_dir, root, n_chunks=2, n_buckets=N_BUCKETS)


def test_docstore_refresh_after_merge(spark, merged_and_rebuilt):
    """Docstore lifecycle across streaming ingest: a store built before
    the stream merge misses the streamed docs; refresh_docstore appends
    exactly those, matching a from-scratch build; second refresh is a
    no-op."""
    from searchengine_spark.serving import build_docstore, refresh_docstore

    root, root2, _ = merged_and_rebuilt
    full_dir = os.path.join(MERGEDIR, "pages_full")
    initial_dir = os.path.join(MERGEDIR, "pages_initial")
    store = catalog.path(root, catalog.DOCSTORE)
    shutil.rmtree(store, ignore_errors=True)
    # a docstore built pre-merge covered only the initial corpus slice
    build_docstore(spark, root, initial_dir, n_files=2)
    n0 = spark.read.parquet(store).count()
    appended = refresh_docstore(spark, root, full_dir)
    assert appended > 0
    assert spark.read.parquet(store).count() == n0 + appended
    build_docstore(spark, root2, full_dir, n_files=2)
    got = {tuple(r) for r in spark.read.parquet(store).collect()}
    want = {
        tuple(r)
        for r in spark.read.parquet(
            catalog.path(root2, catalog.DOCSTORE)
        ).collect()
    }
    assert got == want
    assert refresh_docstore(spark, root, full_dir) == 0


def test_stream_to_serving_end_to_end(spark, merged_and_rebuilt):
    """The full operational loop with no rebuild anywhere: index built
    on the initial corpus slice + docstore; more pages arrive via the
    stream and merge in; refresh_docstore catches the forward index up;
    the live HTTP endpoint then serves rows identical (urls, blended
    scores, titles) to library search over a FROM-SCRATCH rebuilt index
    reading titles live from the corpus."""
    import json as _json
    import urllib.request
    from urllib.parse import quote

    from searchengine_spark.serving import build_docstore, refresh_docstore, search
    from searchengine_spark.webserver import start_server

    from searchengine_spark.pagerank import build_pagerank_stage

    root, root2, _ = merged_and_rebuilt
    full_dir = os.path.join(MERGEDIR, "pages_full")
    initial_dir = os.path.join(MERGEDIR, "pages_initial")
    store = catalog.path(root, catalog.DOCSTORE)
    shutil.rmtree(store, ignore_errors=True)
    build_docstore(spark, root, initial_dir, n_files=2)  # pre-stream store
    assert refresh_docstore(spark, root, full_dir) > 0   # post-merge catch-up
    # rank refresh runs on its own cadence (merge leaves pagerank
    # alone by design) — run it on both sides so the comparison also
    # covers the pagerank component of the blend
    build_pagerank_stage(spark, full_dir, root, "rank-refresh")
    build_pagerank_stage(spark, full_dir, root2, "rank-refresh")

    server, _t = start_server(spark, root, full_dir)
    try:
        host, port = server.server_address[:2]
        for q in (corpus.VOCAB[0], f"{corpus.VOCAB[1]} {corpus.VOCAB[2]}"):
            url = (f"http://{host}:{port}/api/search?"
                   f"query={quote(q)}&limit=10")
            with urllib.request.urlopen(url, timeout=120) as r:
                got = [
                    (x["url"], round(x["blended"], 9), x["title"])
                    for x in _json.loads(r.read())["results"]
                ]
            want = [
                (x["url"], round(x["blended"], 9), x["title"])
                for x in search(spark, root2, full_dir, q, k=10).collect()
            ]
            assert got == want and got, q
    finally:
        server.batcher.close()
        server.shutdown()
        server.server_close()


def test_declared_schemas_match_the_tables_on_disk(spark, merged_and_rebuilt):
    """Every index table of a built, stream-merged and docstore-refreshed
    root has exactly the schema catalog.SCHEMAS declares: the schema
    Spark infers from its files (partition columns included) equals it,
    so reading with the declared one changes no column."""
    from searchengine_spark.anchors import build_anchor_stage
    from searchengine_spark.pagerank import build_pagerank_stage
    from searchengine_spark.serving import build_docstore, refresh_docstore

    root, _, _ = merged_and_rebuilt
    full_dir = os.path.join(MERGEDIR, "pages_full")
    shutil.rmtree(catalog.path(root, catalog.DOCSTORE), ignore_errors=True)
    build_docstore(spark, root, os.path.join(MERGEDIR, "pages_initial"), n_files=2)
    assert refresh_docstore(spark, root, full_dir) > 0
    build_pagerank_stage(spark, full_dir, root, "schema")
    build_anchor_stage(spark, full_dir, root, "schema")
    assert any(
        e.startswith("chunk=stream-")
        for e in os.listdir(catalog.path(root, catalog.TOKENS))
    )
    for table, declared in catalog.SCHEMAS.items():
        inferred = spark.read.parquet(catalog.path(root, table)).schema
        assert inferred == declared, table
