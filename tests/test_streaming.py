"""Structured Streaming: incremental tokenize equals batch tokenize,
checkpoint prevents re-ingestion, watermarked window agg equals batch."""

import os
import shutil

from pyspark.sql import functions as F

STREAMDIR = "/tmp/se_spark_fixtures/streaming"


def _batch_tokens(spark, pages_path):
    from searchengine_spark.indexer import (
        _ingest_filter,
        docs_with_scoring_text,
        tokenize,
    )

    docs = docs_with_scoring_text(_ingest_filter(spark.read.parquet(pages_path)))
    return tokenize(docs)


def test_stream_tokenize_incremental(spark, tiny_pages_path):
    from searchengine_spark.streaming.ingest import stream_tokenize

    shutil.rmtree(STREAMDIR, ignore_errors=True)
    pages_in = os.path.join(STREAMDIR, "pages")
    tokens_out = os.path.join(STREAMDIR, "tokens")
    ckpt = os.path.join(STREAMDIR, "ckpt")
    os.makedirs(pages_in)

    # split the fixture corpus into two arriving file batches
    import pyarrow.parquet as pq

    tbl = pq.read_table(tiny_pages_path)
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(pages_in, "b0.parquet"))

    q = stream_tokenize(spark, pages_in, tokens_out, ckpt, n_buckets=4)
    q.awaitTermination()
    n1 = spark.read.parquet(tokens_out).count()
    assert n1 > 0

    # batch 2: the rest lands; restart ingests ONLY the new file
    pq.write_table(tbl.slice(half), os.path.join(pages_in, "b1.parquet"))
    q = stream_tokenize(spark, pages_in, tokens_out, ckpt, n_buckets=4)
    q.awaitTermination()
    streamed = spark.read.parquet(tokens_out)

    batch = _batch_tokens(spark, tiny_pages_path)
    assert streamed.count() == batch.count()
    # identical (doc_id, term, tf) multiset — no dup ingestion, no loss
    key = lambda df: df.groupBy("doc_id", "term").agg(
        F.sum("tf").alias("tf")
    ).orderBy("doc_id", "term")
    assert [r.asDict() for r in key(streamed).collect()] == [
        r.asDict() for r in key(batch).collect()
    ]

    # third restart with nothing new: no rows added (checkpoint resume)
    q = stream_tokenize(spark, pages_in, tokens_out, ckpt, n_buckets=4)
    q.awaitTermination()
    assert spark.read.parquet(tokens_out).count() == batch.count()


def test_stream_stateful_sessionize_matches_batch(spark):
    """applyInPandasWithState sessionization over two time-split file
    batches equals the batch q07 twin (cross-batch state carry-over)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from searchengine_spark.pipelines.relational import q07_sessionize
    from searchengine_spark.streaming.sessions import sessionize_stream

    events_dir = os.path.join(STREAMDIR, "events_sessions")
    ckpt = os.path.join(STREAMDIR, "ckpt_sess")
    shutil.rmtree(events_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(events_dir)
    src = "/root/testdata/sf0.001/events.parquet"
    tbl = pq.read_table(src)
    ts_i64 = tbl["ts"].cast("int64")
    cutoff = int(pc.approximate_median(ts_i64).as_py())
    early = tbl.filter(pc.less_equal(ts_i64, cutoff))
    late = tbl.filter(pc.greater(ts_i64, cutoff))
    assert early.num_rows and late.num_rows
    # discovery order = the batch order the state fold sees
    pq.write_table(early, os.path.join(events_dir, "a_early.parquet"))
    pq.write_table(late, os.path.join(events_dir, "b_late.parquet"))
    os.utime(os.path.join(events_dir, "a_early.parquet"), (1, 1))

    q = sessionize_stream(spark, events_dir, ckpt, out_table="ssess_test")
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM ssess_test").collect()
    final: dict[int, tuple[int, int]] = {}
    for r in rows:  # update mode: keep the row with the largest n_events
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[1]:
            final[r["user_id"]] = (r["n_sessions"], r["n_events"])
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in q07_sessionize(spark, "/root/testdata/sf0.001").collect()
    }
    assert final == want


def test_stream_windowed_agg_matches_batch(spark):
    from searchengine_spark.streaming.windows import windowed_event_counts

    events_dir = os.path.join(STREAMDIR, "events")
    ckpt = os.path.join(STREAMDIR, "ckpt_ev")
    shutil.rmtree(events_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(events_dir, exist_ok=True)
    src = "/root/testdata/sf0.001/events.parquet"
    shutil.copy(src, os.path.join(events_dir, "events.parquet"))

    q = windowed_event_counts(spark, events_dir, ckpt, out_table="swc_test")
    q.awaitTermination()
    got = {
        (r["hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM swc_test").collect()
    }
    batch = (
        spark.read.parquet(src)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
    )
    want = {
        (r["hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want


def test_stream_dedup_exact_across_batches_and_restart(spark):
    """Cross-batch dup suppression: a duplicate arriving in a LATER
    micro-batch (and after a query restart) is dropped; kept content set
    equals the batch q15 canonical set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.streaming.dedup import stream_dedup_exact

    root = os.path.join(STREAMDIR, "dedup")
    shutil.rmtree(root, ignore_errors=True)
    docs_in = os.path.join(root, "in")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(docs_in)

    def write_batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": [r[1] for r in rows],
                    "lang": ["en"] * len(rows),
                    "source": ["s"] * len(rows),
                    "n_chars": pa.array(
                        [len(r[1]) for r in rows], pa.int64()
                    ),
                }
            ),
            os.path.join(docs_in, name),
        )

    write_batch("b0.parquet", [(1, "alpha"), (2, "beta")])
    stream_dedup_exact(spark, docs_in, out, ckpt).awaitTermination()
    # batch 2: one new text, one cross-batch dup of "beta"
    write_batch("b1.parquet", [(3, "beta"), (4, "gamma")])
    stream_dedup_exact(spark, docs_in, out, ckpt).awaitTermination()
    got = spark.read.parquet(out)
    assert sorted(r["text"] for r in got.collect()) == [
        "alpha", "beta", "gamma",
    ]
    assert got.filter(F.col("doc_id") == 3).count() == 0  # dup dropped
    # restart (fresh query object, same checkpoint): an old dup arriving
    # again is still suppressed by the restored state
    write_batch("b2.parquet", [(5, "alpha"), (6, "delta")])
    stream_dedup_exact(spark, docs_in, out, ckpt).awaitTermination()
    texts = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert texts == ["alpha", "beta", "delta", "gamma"]


def test_stream_dedup_within_watermark_bounds_state(spark):
    """A dup inside the watermark horizon is suppressed; the variant
    accepts the same availableNow/restart drill as the unbounded one."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from searchengine_spark.streaming.dedup import (
        stream_dedup_within_watermark,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
        ]
    )
    root = os.path.join(STREAMDIR, "dedup_wm")
    shutil.rmtree(root, ignore_errors=True)
    docs_in = os.path.join(root, "in")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(docs_in)
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def write_batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [t0 + datetime.timedelta(minutes=r[1]) for r in rows],
                        pa.timestamp("us"),
                    ),
                    "text": [r[2] for r in rows],
                }
            ),
            os.path.join(docs_in, name),
        )

    write_batch("b0.parquet", [(1, 0, "alpha"), (2, 1, "beta")])
    stream_dedup_within_watermark(
        spark, docs_in, out, ckpt, "ts", "1 hour", schema
    ).awaitTermination()
    # in-horizon dup (+2 min) must be dropped
    write_batch("b1.parquet", [(3, 2, "alpha"), (4, 3, "gamma")])
    stream_dedup_within_watermark(
        spark, docs_in, out, ckpt, "ts", "1 hour", schema
    ).awaitTermination()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 3 not in got
    assert {1, 2, 4} <= got


def test_stream_hll_matches_batch(spark):
    """HLL registers streamed in two micro-batches (and read back with
    the MAX-fold) must equal the batch q44 registers and estimate to
    the last bit; restarting the stream with no new data changes
    nothing."""
    import pyarrow.parquet as pq

    from searchengine_spark.pipelines.relational import (
        hll_registers,
        q44_portable_hll,
    )
    from searchengine_spark.streaming.sketch import (
        hll_distinct,
        read_hll_registers,
        stream_hll,
    )

    events_dir = os.path.join(STREAMDIR, "events_hll")
    regs_dir = os.path.join(STREAMDIR, "hll_regs")
    ckpt = os.path.join(STREAMDIR, "hll_ckpt")
    for d in (events_dir, regs_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(events_dir)
    src = "/root/testdata/sf0.001/events.parquet"
    tbl = pq.read_table(src)
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(events_dir, "a0.parquet"))
    pq.write_table(tbl.slice(half), os.path.join(events_dir, "b1.parquet"))
    os.utime(os.path.join(events_dir, "a0.parquet"), (1, 1))

    stream_hll(spark, events_dir, regs_dir, ckpt).awaitTermination()
    streamed_regs = {
        (r["key"], r["bucket"]): r["mrho"]
        for r in read_hll_registers(spark, regs_dir).collect()
    }
    batch_regs = {
        (r["key"], r["bucket"]): r["mrho"]
        for r in hll_registers(
            spark.read.parquet(src), "event_type", "user_id"
        ).collect()
    }
    assert streamed_regs == batch_regs

    streamed_est = {
        r["key"]: r["hll_estimate"] for r in hll_distinct(spark, regs_dir).collect()
    }
    batch_est = {
        r["event_type"]: r["hll_users"]
        for r in q44_portable_hll(spark, "/root/testdata/sf0.001").collect()
    }
    assert streamed_est == batch_est

    # restart with no new input: checkpoint skips everything, registers
    # unchanged
    stream_hll(spark, events_dir, regs_dir, ckpt).awaitTermination()
    again = {
        (r["key"], r["bucket"]): r["mrho"]
        for r in read_hll_registers(spark, regs_dir).collect()
    }
    assert again == streamed_regs


def test_stream_cms_matches_batch(spark):
    """Count-min grid streamed in two micro-batches SUM-folds to exactly
    the batch grid (partial sketches are mergeable), and a restart with
    no new data double-counts nothing (per-batch overwrite carries
    exactly-once over SUM's non-idempotence)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from searchengine_spark.pipelines.textstats import _tok_arr, cms_sketch
    from searchengine_spark.streaming.sketch import (
        read_cms_sketch,
        stream_cms,
    )

    docs_dir = os.path.join(STREAMDIR, "docs_cms")
    sketch_dir = os.path.join(STREAMDIR, "cms_grid")
    ckpt = os.path.join(STREAMDIR, "cms_ckpt")
    for d in (docs_dir, sketch_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(docs_dir)
    src = "/root/testdata/sf0.001/documents.parquet"
    tbl = pq.read_table(src)
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(docs_dir, "a0.parquet"))
    pq.write_table(tbl.slice(half), os.path.join(docs_dir, "b1.parquet"))
    os.utime(os.path.join(docs_dir, "a0.parquet"), (1, 1))

    stream_cms(spark, docs_dir, sketch_dir, ckpt).awaitTermination()
    streamed = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in read_cms_sketch(spark, sketch_dir).collect()
    }
    batch = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_sketch(
            spark.read.parquet(src).select(F.explode(_tok_arr()).alias("tok"))
        ).collect()
    }
    assert streamed == batch

    stream_cms(spark, docs_dir, sketch_dir, ckpt).awaitTermination()
    again = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in read_cms_sketch(spark, sketch_dir).collect()
    }
    assert again == streamed


def test_stream_cms_fresh_checkpoints_share_sketch_dir(spark):
    """Two count-min streams over disjoint halves of the documents, each
    with its own checkpoint, into ONE sketch dir: both start at batch
    0, and the SUM fold must equal the batch grid over both halves
    (bare batch=<id> dirs let the second run's batch 0 overwrite the
    first's)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from searchengine_spark.pipelines.textstats import _tok_arr, cms_sketch
    from searchengine_spark.streaming.sketch import (
        read_cms_sketch,
        stream_cms,
    )

    base = os.path.join(STREAMDIR, "cms_two_runs")
    shutil.rmtree(base, ignore_errors=True)
    sketch_dir = os.path.join(base, "grid")
    src = "/root/testdata/sf0.001/documents.parquet"
    tbl = pq.read_table(src)
    half = tbl.num_rows // 2
    for run, part in enumerate((tbl.slice(0, half), tbl.slice(half))):
        docs_dir = os.path.join(base, f"docs{run}")
        os.makedirs(docs_dir)
        pq.write_table(part, os.path.join(docs_dir, "part.parquet"))
        stream_cms(
            spark, docs_dir, sketch_dir, os.path.join(base, f"ckpt{run}")
        ).awaitTermination()

    streamed = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in read_cms_sketch(spark, sketch_dir).collect()
    }
    batch = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_sketch(
            spark.read.parquet(src).select(F.explode(_tok_arr()).alias("tok"))
        ).collect()
    }
    assert streamed == batch


def test_stream_range_join_matches_batch(spark):
    """Stream-stream interval join (purchases x clicks within the
    preceding hour, both sides in two arbitrary micro-batches) must emit
    exactly the batch range join's pair set."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from searchengine_spark.streaming.joins import stream_range_join

    clicks_dir = os.path.join(STREAMDIR, "rj_clicks")
    purch_dir = os.path.join(STREAMDIR, "rj_purch")
    out = os.path.join(STREAMDIR, "rj_out")
    ckpt = os.path.join(STREAMDIR, "rj_ckpt")
    for d in (clicks_dir, purch_dir, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    src = "/root/testdata/sf0.001/events.parquet"
    ev = pq.read_table(src)
    import pyarrow.compute as pc

    clicks = ev.filter(pc.equal(ev["event_type"], "click"))
    purch = ev.filter(pc.equal(ev["event_type"], "purchase"))
    for tbl, d in ((clicks, clicks_dir), (purch, purch_dir)):
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), os.path.join(d, "a0.parquet"))
        pq.write_table(tbl.slice(half), os.path.join(d, "b1.parquet"))
        os.utime(os.path.join(d, "a0.parquet"), (1, 1))

    stream_range_join(spark, clicks_dir, purch_dir, out, ckpt).awaitTermination()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(out).collect()
    }

    evdf = spark.read.parquet(src)
    c = evdf.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    p = evdf.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("cts") < F.col("pts")),
        ).collect()
    }
    assert got == want and want


def test_stream_dup_spans_matches_batch(spark):
    """q55's streaming twin: occurrence partials streamed in two
    micro-batches fold to row-identical batch output, INCLUDING spans
    whose two copies arrive in different batches (the fixture has
    hundreds of cross-half dup shingles — asserted below by comparing
    against the per-batch-local union, which misses them). Restart with
    no new data changes nothing."""
    import pyarrow.parquet as pq

    from searchengine_spark.pipelines.dedup import dup_spans
    from searchengine_spark.streaming.spans import (
        read_dup_spans,
        stream_span_occurrences,
    )

    docs_dir = os.path.join(STREAMDIR, "docs_spans")
    spans_dir = os.path.join(STREAMDIR, "spans_part")
    ckpt = os.path.join(STREAMDIR, "spans_ckpt")
    for d in (docs_dir, spans_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(docs_dir)
    src = "/root/testdata/sf0.001/documents.parquet"
    tbl = pq.read_table(src)
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(docs_dir, "a0.parquet"))
    pq.write_table(tbl.slice(half), os.path.join(docs_dir, "b1.parquet"))
    os.utime(os.path.join(docs_dir, "a0.parquet"), (1, 1))

    stream_span_occurrences(spark, docs_dir, spans_dir, ckpt).awaitTermination()
    streamed = [tuple(r) for r in read_dup_spans(spark, spans_dir).collect()]
    batch = [
        tuple(r) for r in dup_spans(spark.read.parquet(src)).collect()
    ]
    assert streamed == batch

    # the duplicate decision happens at READ time over the union: the
    # per-batch-local results would miss cross-batch duplicate spans
    local = []
    for f in ("a0.parquet", "b1.parquet"):
        local += [
            tuple(r)
            for r in dup_spans(
                spark.read.parquet(os.path.join(docs_dir, f))
            ).collect()
        ]
    streamed_dups = sum(r[3] for r in streamed)  # n_dup_shingles column
    local_dups = sum(r[3] for r in local)
    assert streamed_dups > local_dups

    stream_span_occurrences(spark, docs_dir, spans_dir, ckpt).awaitTermination()
    again = [tuple(r) for r in read_dup_spans(spark, spans_dir).collect()]
    assert again == streamed


def test_stream_burst_matches_batch(spark):
    """Two-arrival-batch drill for the streaming burst twin: the stream
    maintains q86's hourly-count series incrementally (complete-mode
    state restored across a query restart); the derived burst view over
    the final series equals batch q86 on the union of all events."""
    import pyarrow.parquet as pq

    from searchengine_spark.pipelines.relational import q86_burst_detect
    from searchengine_spark.streaming.burst import (
        burst_view,
        streaming_hourly_counts,
    )

    root = os.path.join(STREAMDIR, "burst")
    shutil.rmtree(root, ignore_errors=True)
    events_in = os.path.join(root, "in")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(events_in)

    src = "/root/testdata/sf0.001/events.parquet"
    t = pq.read_table(src)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), os.path.join(events_in, "b0.parquet"))

    streaming_hourly_counts(
        spark, events_in, ckpt, out_table="sb_counts"
    ).awaitTermination()
    n_first = spark.table("sb_counts").count()
    assert n_first > 0

    # second arrival batch + query restart: state restored from the
    # checkpoint, complete output covers BOTH halves
    pq.write_table(t.slice(half), os.path.join(events_in, "b1.parquet"))
    streaming_hourly_counts(
        spark, events_in, ckpt, out_table="sb_counts"
    ).awaitTermination()

    got = {
        (r["event_type"], r["b"]): (
            r["cnt"],
            r["trailing_sum"],
            r["is_burst"],
        )
        for r in burst_view(spark, "sb_counts").collect()
    }
    want = {
        (r["event_type"], r["b"]): (
            r["cnt"],
            r["trailing_sum"],
            r["is_burst"],
        )
        for r in q86_burst_detect(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want


def test_stream_novelty_matches_batch(spark):
    """q105's streaming twin: hashed occurrence partials streamed in two
    micro-batches fold to row-identical batch output. Cross-batch
    property: a batch-1 doc re-using batch-0 shingles is NOT novel in
    the folded view but looks novel to a per-batch-local q105 (asserted
    by the strict overcount below). Restart with no new data changes
    nothing; MIN-fold makes replays harmless by algebra, the overwrite
    dir by layout."""
    import pyarrow.parquet as pq

    from searchengine_spark.pipelines.curation import (
        ngram_novelty_from,
        novelty_occurrences,
    )
    from searchengine_spark.streaming.novelty import (
        read_ngram_novelty,
        stream_novelty_occurrences,
    )

    docs_dir = os.path.join(STREAMDIR, "docs_novelty")
    nov_dir = os.path.join(STREAMDIR, "novelty_part")
    ckpt = os.path.join(STREAMDIR, "novelty_ckpt")
    for d in (docs_dir, nov_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(docs_dir)
    src = "/root/testdata/sf0.001/documents.parquet"
    tbl = pq.read_table(src)
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(docs_dir, "a0.parquet"))
    pq.write_table(tbl.slice(half), os.path.join(docs_dir, "b1.parquet"))
    os.utime(os.path.join(docs_dir, "a0.parquet"), (1, 1))

    stream_novelty_occurrences(spark, docs_dir, nov_dir, ckpt).awaitTermination()
    streamed = [
        tuple(r) for r in read_ngram_novelty(spark, nov_dir).collect()
    ]
    batch = [
        tuple(r)
        for r in ngram_novelty_from(
            novelty_occurrences(spark.read.parquet(src))
        ).collect()
    ]
    assert streamed == batch

    # the first-occurrence decision happens at READ time over the union:
    # per-batch-local novelty overcounts (batch-1 docs re-using batch-0
    # shingles look novel locally)
    local_novel = 0
    for f in ("a0.parquet", "b1.parquet"):
        local_novel += sum(
            r["n_novel"]
            for r in ngram_novelty_from(
                novelty_occurrences(
                    spark.read.parquet(os.path.join(docs_dir, f))
                )
            ).collect()
        )
    streamed_novel = sum(r[3] for r in streamed)  # n_novel column
    assert streamed_novel < local_novel

    stream_novelty_occurrences(spark, docs_dir, nov_dir, ckpt).awaitTermination()
    again = [tuple(r) for r in read_ngram_novelty(spark, nov_dir).collect()]
    assert again == streamed


def test_stream_anchor_field_matches_batch(spark, tiny_pages_path):
    """Anchor field streamed in two page micro-batches folds to
    row-identical batch anchor_terms output, INCLUDING targets whose
    inbound anchors arrive in different batches; replaying with the
    same checkpoint adds nothing (per-batch overwrite idempotence)."""
    import pyarrow.parquet as pq

    from searchengine_spark.anchors import anchor_terms
    from searchengine_spark.streaming.anchors import (
        read_anchor_field,
        stream_anchor_occurrences,
    )

    pages_in = os.path.join(STREAMDIR, "anchors_pages")
    anchors_dir = os.path.join(STREAMDIR, "anchors_part")
    ckpt = os.path.join(STREAMDIR, "anchors_ckpt")
    for d in (pages_in, anchors_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(pages_in)

    tbl = pq.read_table(tiny_pages_path)
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(pages_in, "b0.parquet"))
    stream_anchor_occurrences(
        spark, pages_in, anchors_dir, ckpt
    ).awaitTermination()
    first = {
        (r["doc_id"], r["term"]): r["n_anchors"]
        for r in read_anchor_field(spark, anchors_dir).collect()
    }
    pq.write_table(tbl.slice(half), os.path.join(pages_in, "b1.parquet"))
    stream_anchor_occurrences(
        spark, pages_in, anchors_dir, ckpt
    ).awaitTermination()
    folded = {
        (r["doc_id"], r["term"]): r["n_anchors"]
        for r in read_anchor_field(spark, anchors_dir).collect()
    }

    batch = {
        (r["doc_id"], r["term"]): r["n_anchors"]
        for r in anchor_terms(
            spark, spark.read.parquet(tiny_pages_path)
        ).collect()
    }
    assert folded == batch
    # cross-batch: some target's count GREW past its first-batch value
    # (its inbound anchors span both batches) — a per-batch aggregation
    # would have frozen it at the batch-0 count
    grown = [k for k, v in folded.items() if k in first and v > first[k]]
    assert grown, "fixture link graph has no cross-batch anchor target"

    # replay with the same checkpoint: nothing new, fold identical
    stream_anchor_occurrences(
        spark, pages_in, anchors_dir, ckpt
    ).awaitTermination()
    again = {
        (r["doc_id"], r["term"]): r["n_anchors"]
        for r in read_anchor_field(spark, anchors_dir).collect()
    }
    assert again == batch

    # cross-checkpoint non-clobber: a SECOND ingest run (fresh checkpoint,
    # different pages) into the same anchors_dir restarts its batch ids at
    # 0 — its batch-0 partial must land in its own ckpt-tagged dir, NOT
    # overwrite the first run's batch-0 (which held the b0 half). Under a
    # bare batch=<id> layout the b0 contribution would be destroyed and
    # some counts would DROP; with ckpt-tagged dirs every count is
    # monotone (old partials survive) and the b1 half is counted once more.
    pages_in2 = os.path.join(STREAMDIR, "anchors_pages2")
    ckpt2 = os.path.join(STREAMDIR, "anchors_ckpt2")
    for d in (pages_in2, ckpt2):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(pages_in2)
    pq.write_table(tbl.slice(half), os.path.join(pages_in2, "b1.parquet"))
    stream_anchor_occurrences(
        spark, pages_in2, anchors_dir, ckpt2
    ).awaitTermination()
    merged = {
        (r["doc_id"], r["term"]): r["n_anchors"]
        for r in read_anchor_field(spark, anchors_dir).collect()
    }
    assert all(merged[k] >= v for k, v in batch.items()), (
        "second checkpoint's batch-0 clobbered the first run's partials"
    )
    b1_only = {
        (r["doc_id"], r["term"]): r["n_anchors"]
        for r in anchor_terms(
            spark, spark.read.parquet(os.path.join(pages_in2, "b1.parquet"))
        ).collect()
    }
    assert merged == {
        k: batch.get(k, 0) + b1_only.get(k, 0)
        for k in set(batch) | set(b1_only)
    }


def test_stream_percolate_matches_batch(spark):
    """q134's streaming twin: standing rules mined once from the full
    corpus, documents streamed in two micro-batches — the union of
    per-batch alert partials is row-identical to batch
    percolate_alerts over the whole corpus (a doc is row-atomic, so
    per-batch matching loses nothing). Replay with the same checkpoint
    changes nothing (per-batch overwrite idempotence); a second run
    with a FRESH checkpoint lands in distinct ckpt-tagged dirs instead
    of clobbering batch-id-colliding partials."""
    import pyarrow.parquet as pq

    from searchengine_spark.pipelines.fulltext import (
        percolate_alerts,
        percolate_rules,
    )
    from searchengine_spark.streaming.percolate import (
        read_alerts,
        stream_percolate,
    )

    docs_dir = os.path.join(STREAMDIR, "perc_docs")
    alerts_dir = os.path.join(STREAMDIR, "perc_alerts")
    ckpt = os.path.join(STREAMDIR, "perc_ckpt")
    ckpt2 = os.path.join(STREAMDIR, "perc_ckpt2")
    for d in (docs_dir, alerts_dir, ckpt, ckpt2):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(docs_dir)
    src = "/root/testdata/sf0.001/documents.parquet"
    tbl = pq.read_table(src)
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(docs_dir, "a0.parquet"))
    pq.write_table(tbl.slice(half), os.path.join(docs_dir, "b1.parquet"))
    os.utime(os.path.join(docs_dir, "a0.parquet"), (1, 1))

    corpus = spark.read.parquet(src)
    rules = percolate_rules(corpus).cache()
    stream_percolate(
        spark, docs_dir, rules, alerts_dir, ckpt
    ).awaitTermination()
    streamed = sorted(
        tuple(r) for r in read_alerts(spark, alerts_dir).collect()
    )
    batch = sorted(
        tuple(r) for r in percolate_alerts(corpus, rules).collect()
    )
    assert streamed == batch
    assert streamed  # fixture fires alerts at all

    # replay with the same checkpoint: no new batches, fold identical
    stream_percolate(
        spark, docs_dir, rules, alerts_dir, ckpt
    ).awaitTermination()
    again = sorted(
        tuple(r) for r in read_alerts(spark, alerts_dir).collect()
    )
    assert again == streamed

    # fresh checkpoint over the same alerts_dir: its batch-0 must NOT
    # clobber the first run's batch-0 partial (ckpt-tagged dir names)
    stream_percolate(
        spark, docs_dir, rules, alerts_dir, ckpt2
    ).awaitTermination()
    doubled = sorted(
        tuple(r) for r in read_alerts(spark, alerts_dir).collect()
    )
    assert doubled == sorted(streamed + streamed), (
        "fresh-checkpoint batch ids clobbered the prior run's partials"
    )
    rules.unpersist()


def test_stream_winnowing_matches_batch(spark):
    """q161's streaming twin: winnowing partials streamed in two
    micro-batches fold to the row-identical batch census. Cross-batch
    property: a planted near-dup of a batch-0 doc arriving in batch 1
    surfaces in read_shared_pairs (a per-batch-local pair scan cannot
    see it). Replay with the same checkpoint changes nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.pipelines.textstats import (
        winnow_census,
        winnow_parts,
    )
    from searchengine_spark.streaming.fingerprints import (
        read_shared_pairs,
        read_winnow_census,
        stream_winnow_fingerprints,
    )

    docs_dir = os.path.join(STREAMDIR, "docs_winnow")
    fp_dir = os.path.join(STREAMDIR, "winnow_part")
    ckpt = os.path.join(STREAMDIR, "winnow_ckpt")
    for d in (docs_dir, fp_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(docs_dir)
    src = "/root/testdata/sf0.001/documents.parquet"
    tbl = pq.read_table(src)
    half = tbl.num_rows // 2
    # plant a near-dup: batch 1 carries a copy of a batch-0 doc's text
    # under a new doc_id (prefix kept, tail token changed)
    first = tbl.slice(0, 1).to_pylist()[0]
    clone = dict(first)
    clone["doc_id"] = 999_999_001
    clone["text"] = first["text"] + " zzztail"
    b0 = tbl.slice(0, half)
    b1 = pa.concat_tables(
        [tbl.slice(half), pa.Table.from_pylist([clone], schema=tbl.schema)]
    )
    pq.write_table(b0, os.path.join(docs_dir, "a0.parquet"))
    pq.write_table(b1, os.path.join(docs_dir, "b1.parquet"))
    os.utime(os.path.join(docs_dir, "a0.parquet"), (1, 1))

    stream_winnow_fingerprints(spark, docs_dir, fp_dir, ckpt).awaitTermination()
    streamed = [
        tuple(r) for r in read_winnow_census(spark, fp_dir).collect()
    ]
    all_docs = spark.read.parquet(docs_dir)
    nk, sel = winnow_parts(all_docs)
    batch = [tuple(r) for r in winnow_census(nk, sel).collect()]
    assert streamed == batch

    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in read_shared_pairs(spark, fp_dir).collect()
    }
    key = (first["doc_id"], 999_999_001)
    assert key in pairs and pairs[key] >= 2  # cross-batch near-dup seen

    stream_winnow_fingerprints(spark, docs_dir, fp_dir, ckpt).awaitTermination()
    again = [tuple(r) for r in read_winnow_census(spark, fp_dir).collect()]
    assert again == streamed


def test_stream_winnowing_fresh_checkpoints_share_fp_dir(spark):
    """Two fingerprint streams over disjoint doc dirs, each with its own
    checkpoint, into ONE fp_dir: both start at batch 0, and the census
    must cover both runs' docs (bare batch=<id> dirs let the second
    run's batch 0 overwrite the first's)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.pipelines.textstats import (
        winnow_census,
        winnow_parts,
    )
    from searchengine_spark.streaming.fingerprints import (
        read_winnow_census,
        stream_winnow_fingerprints,
    )
    from searchengine_spark.streaming.sketch import DOCS_SCHEMA

    base = os.path.join(STREAMDIR, "winnow_two_runs")
    shutil.rmtree(base, ignore_errors=True)
    fp_dir = os.path.join(base, "fp")
    arrow_schema = spark.createDataFrame([], DOCS_SCHEMA).toArrow().schema
    n_docs = 40
    for run in range(2):
        docs = [
            {
                "doc_id": i, "url": f"u{i}", "source": "s", "lang": "en",
                "text": " ".join(f"w{(i * 7 + j * j) % 97}" for j in range(30)),
                "embedding": [0.0],
            }
            for i in range(run * n_docs // 2, (run + 1) * n_docs // 2)
        ]
        docs_dir = os.path.join(base, f"docs{run}")
        os.makedirs(docs_dir)
        pq.write_table(
            pa.Table.from_pylist(docs, schema=arrow_schema),
            os.path.join(docs_dir, "part.parquet"),
        )
        stream_winnow_fingerprints(
            spark, docs_dir, fp_dir, os.path.join(base, f"ckpt{run}")
        ).awaitTermination()

    streamed = [tuple(r) for r in read_winnow_census(spark, fp_dir).collect()]
    nk, sel = winnow_parts(spark.read.parquet(os.path.join(base, "docs*")))
    assert streamed == [tuple(r) for r in winnow_census(nk, sel).collect()]
    assert [r[0] for r in streamed] == list(range(n_docs))
