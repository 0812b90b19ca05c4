"""Physical-plan audits as enforced regressions (SURVEY §8.3 was a
manual `.explain("formatted")` read; these tests pin the properties so a
refactor can't silently un-push a filter, widen a scan, or demote a
broadcast). Only STATIC plan properties are asserted — explicit
F.broadcast joins, parquet PushedFilters, ReadSchema pruning — never
AQE runtime decisions, which legitimately vary with stats."""

import contextlib
import io
import os
import re

import pytest

SF_DIR = os.environ.get("PIPE_SF_DIR", "/root/testdata/sf0.001")


def plan(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def scan_blocks(p):
    """formatted-mode output: one '(N) Scan parquet' paragraph per scan."""
    return re.findall(r"\(\d+\) Scan parquet[\s\S]*?(?=\n\(\d+\)|\Z)", p)


def test_q06_filter_pushdown_reaches_scan(spark):
    from searchengine_spark.pipelines.relational import q06_filter_pushdown

    p = plan(q06_filter_pushdown(spark, SF_DIR))
    scans = scan_blocks(p)
    assert len(scans) == 1
    s = scans[0]
    m = re.search(r"PushedFilters: \[(.*?)\]", s)
    assert m, "no PushedFilters on the lineitem scan"
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed to parquet"
    m = re.search(r"ReadSchema: struct<(.*?)>", s)
    assert m
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # projection pruning: 5 referenced columns, not the full table
    assert read_cols == {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice",
    } | ({"l_orderkey"} & read_cols), read_cols


def test_q02_dimension_joins_are_broadcast(spark):
    from searchengine_spark.pipelines.relational import q02_join_revenue

    p = plan(q02_join_revenue(spark, SF_DIR))
    # formatted mode prints each operator twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 3, p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    # orders side reads only the join key + aggregated column
    orders_scan = [s for s in scan_blocks(p) if "orders" in s][0]
    m = re.search(r"ReadSchema: struct<(.*?)>", orders_scan)
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"o_custkey", "o_totalprice"}, read_cols


def test_q35_corpus_scan_is_pruned_and_counts_broadcast(spark):
    from searchengine_spark.pipelines.curation import q35_source_quota_sample

    p = plan(q35_source_quota_sample(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    docs_scans = [s for s in scan_blocks(p) if "documents" in s]
    assert docs_scans
    for s in docs_scans:
        m = re.search(r"ReadSchema: struct<(.*?)>", s)
        read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
        # never the text blob: the quota decision needs ids + source only
        assert "text" not in read_cols, read_cols


def test_q41_eval_shingles_are_broadcast(spark):
    """Decontamination must broadcast the (tiny) eval shingle set and
    never shuffle or cross-join the train-side text."""
    from searchengine_spark.pipelines.curation import q41_decontaminate

    p = plan(q41_decontaminate(spark, SF_DIR))
    assert re.search(r"\(\d+\) BroadcastHashJoin", p), p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_q43_centroids_broadcast_every_round(spark):
    """Each Lloyd round must broadcast the centroid set (one
    BroadcastNestedLoopJoin per round against the candidate scan) —
    never a shuffle of the candidate vectors against the centroids."""
    from searchengine_spark.pipelines.similarity import (
        KMEANS_ITER,
        q43_kmeans_train,
    )

    p = plan(q43_kmeans_train(spark, SF_DIR))
    rounds = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    assert rounds == KMEANS_ITER, p
    assert "CartesianProduct" not in p


def test_q13_stays_jvm_side(spark):
    """BM25 top-k twin: no Python row UDFs in the plan (BatchEvalPython
    = the row-at-a-time slow path; ArrowEvalPython would be a pandas
    UDF — q13 needs neither)."""
    from searchengine_spark.pipelines.fulltext import q13_bm25_topk

    p = plan(q13_bm25_topk(spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    # whole-stage codegen spans are visible only in codegen mode
    c = plan(q13_bm25_topk(spark, SF_DIR), mode="codegen")
    assert "WholeStageCodegen" in c


def test_q39_single_exchange_per_sort(spark):
    """Rank-selection quantiles: the ranked relation is sorted within
    source partitions (window), never globally collected; no cartesian
    blow-up from the tiny quantile-literals join (explicit broadcast)."""
    from searchengine_spark.pipelines.textstats import q39_length_quantiles

    p = plan(q39_length_quantiles(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # 3-row quantile literals side
    assert "Window" in p


def test_q46_model_join_is_broadcast(spark):
    """Perplexity scoring joins the corpus token stream against the
    vocab-sized model: the model must be the broadcast side (never a
    shuffle of the token stream against it), scalars ride a 1-row
    broadcast, and nothing degenerates to a cartesian."""
    from searchengine_spark.pipelines.textstats import q46_lm_perplexity

    p = plan(q46_lm_perplexity(spark, SF_DIR))
    assert re.search(r"\(\d+\) BroadcastHashJoin", p), p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_q47_sketch_probe_is_broadcast_and_topk_is_take(spark):
    """CMS heavy hitters: the D·W-row grid is the broadcast side of the
    probe join, and the exact top-k compiles to TakeOrderedAndProject
    (per-partition partial top-k), not a global sort of the vocab."""
    from searchengine_spark.pipelines.textstats import q47_cms_heavy_hitters

    p = plan(q47_cms_heavy_hitters(spark, SF_DIR))
    assert re.search(r"\(\d+\) BroadcastHashJoin", p), p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_q49_salted_join_stays_on_shuffle_path(spark):
    """The skew-salted join must compile to a ShuffledHashJoin keyed on
    (key, _salt) — a broadcast would make the salting moot, and the demo
    exists precisely for dimensions too big to broadcast."""
    from searchengine_spark.pipelines.engine_ops import q49_skew_salted_join

    p = plan(q49_skew_salted_join(spark, SF_DIR))
    assert "ShuffledHashJoin" in p, p
    assert "_salt" in p
    assert "CartesianProduct" not in p


def test_q50_mask_table_is_broadcast(spark):
    """The bloom probe must be a map-side pass: the 256-row mask table
    joins broadcast, nothing degenerates to a cartesian."""
    from searchengine_spark.pipelines.engine_ops import q50_bloom_join_prune

    p = plan(q50_bloom_join_prune(spark, SF_DIR))
    assert re.search(r"\(\d+\) BroadcastHashJoin", p), p
    assert "CartesianProduct" not in p


def test_q51_band_join_avoids_theta_join(spark):
    """The range join must compile to an equi-join on (user, bucket) —
    never the theta-join shapes (BroadcastNestedLoopJoin /
    CartesianProduct) a naive interval predicate produces."""
    from searchengine_spark.pipelines.relational import q51_range_join

    p = plan(q51_range_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p


def test_queries_avoid_row_python_udfs(spark):
    """Sweep: no driver-contract query may compile to a row-at-a-time
    Python UDF (BatchEvalPython). Arrow-batched plans (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas) are the sanctioned Python
    escape hatch and appear only where SURVEY §8 documents them."""
    from searchengine_spark.pipelines import all_queries

    allowed_arrow = {"q26_multimodal_meta", "q28_postings_roundtrip",
                     "q29_porter_stems", "q34_cogroup",
                     "q74_multimodal_features", "q75_frame_sample"}
    for name, fn in sorted(all_queries().items()):
        if name in ("q27_pagerank", "q38_dup_clusters"):
            continue  # iterative: plan built over localCheckpoints
        p = plan(fn(spark, SF_DIR), mode="simple")
        assert "BatchEvalPython" not in p, f"{name} uses a row Python UDF"
        if name not in allowed_arrow:
            for marker in ("ArrowEvalPython", "MapInPandas",
                           "FlatMapGroupsInPandas"):
                assert marker not in p, f"{name} unexpectedly uses {marker}"


def test_q40_fuses_map_stages_into_one_scan(spark):
    """The composed curation pipeline must not rejoin the map-only
    stages (lang/quality/redact) by doc_id: fused they share ONE scan,
    so the plan holds at 7 documents scans total (1 fused map + 2 per
    self-joining aggregate stage: repetition, dedup canonical, quota) —
    the unfused composition reads 10. Every scan must stay
    column-pruned (never text alongside source except the fused map
    scan), and the quota count join stays broadcast."""
    from searchengine_spark.pipelines.curation import q40_curate_pipeline

    p = plan(q40_curate_pipeline(spark, SF_DIR))
    docs_scans = [s for s in scan_blocks(p) if "documents" in s]
    assert len(docs_scans) <= 7, f"{len(docs_scans)} documents scans"
    full_reads = [
        s for s in docs_scans
        if "text" in s and "source" in s and "ReadSchema" in s
    ]
    assert len(full_reads) <= 1, "only the fused map scan may read text+source"
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_q54_inverted_join_shapes(spark):
    """q54: the vocab-sized df table and the 1-row N scalar are
    broadcast; the inverted-index self-join must stay an equi hash/merge
    join — never a CartesianProduct (the O(n^2) shape the op exists to
    avoid)."""
    from searchengine_spark.pipelines.dedup import q54_sparse_cosine

    p = plan(q54_sparse_cosine(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p  # df table + N scalar ride broadcasts


def test_q55_is_two_hash_aggs_no_pairing(spark):
    """q55 must never build candidate pairs: no cartesian/theta join
    anywhere, and the text column is read once (one documents scan)."""
    from searchengine_spark.pipelines.dedup import q55_dup_spans

    p = plan(q55_dup_spans(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q71_bucketed_join_has_no_key_exchange(spark):
    """The bucketed layout must eliminate the join-key shuffle: the plan
    sort-merge-joins the two bucketed scans with NO hashpartitioning
    exchange on either key (the only exchanges left belong to the
    nationkey agg and the final sort)."""
    from searchengine_spark.pipelines.engine_ops import q71_bucketed_join

    p = plan(q71_bucketed_join(spark, SF_DIR))
    assert "SortMergeJoin" in p, p
    assert "hashpartitioning(o_custkey" not in p, "orders side reshuffled"
    assert "hashpartitioning(c_custkey" not in p, "customer side reshuffled"
    assert "Bucketed: true" in p, "scan did not use the bucketed layout"


def test_q65_pivot_single_scan(spark):
    """Pinned pivot values must not trigger the distinct-values pre-job:
    exactly one orders scan in the plan."""
    from searchengine_spark.pipelines.relational import q65_pivot

    p = plan(q65_pivot(spark, SF_DIR))
    assert len(scan_blocks(p)) == 1, p


def test_q69_rolling_window_partitioned_by_user(spark):
    """The rolling frame must ride a user-keyed window spec — a window
    with no partition key collapses to one task at any scale."""
    from searchengine_spark.pipelines.relational import q69_rolling_window

    p = plan(q69_rolling_window(spark, SF_DIR))
    assert "windowspecdefinition(user_id" in p, p


def test_q72_partition_pruning_reaches_scan(spark):
    """The event_type predicate must prune partitions at the scan —
    PartitionFilters carries it, so non-matching directories are never
    listed into the read."""
    from searchengine_spark.pipelines.engine_ops import q72_partition_pruning

    p = plan(q72_partition_pruning(spark, SF_DIR))
    scans = scan_blocks(p)
    assert len(scans) == 1, p
    m = re.search(r"PartitionFilters: \[(.*?)\]", scans[0])
    assert m and "event_type" in m.group(1), scans[0]


def test_q91_mlt_is_broadcast_inverted_join(spark):
    """More-like-this: the seed-vector side broadcasts into the
    inverted-index equi-join — never a self-cross of the corpus."""
    from searchengine_spark.pipelines.fulltext import q91_more_like_this

    p = plan(q91_more_like_this(spark, SF_DIR))
    assert re.search(r"\(\d+\) BroadcastHashJoin", p), p
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_q92_q93_pools_are_take_ordered(spark):
    """RRF pools and the QL top-k compile to distributed
    TakeOrderedAndProject (per-partition top-k + driver merge), not an
    unpartitioned sort of the posting list."""
    from searchengine_spark.pipelines.fulltext import (
        q92_rank_fusion,
        q93_lm_dirichlet,
    )

    p = plan(q92_rank_fusion(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", p)) >= 2, p
    p3 = plan(q93_lm_dirichlet(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p3, p3
    assert "CartesianProduct" not in p3


def test_retrievers_plan_without_running_jobs(spark):
    """Corpus scalars (N, avgdl, |C|) ride the plan as 1-row broadcasts:
    CONSTRUCTING a retriever's DataFrame must schedule zero Spark jobs
    (an eager driver-side count()/collect() would double job-scheduling
    latency on the serving-ish paths — the round-3 verdict defect)."""
    from searchengine_spark.pipelines.fulltext import (
        q12_tfidf,
        q13_bm25_topk,
        q81_host_collapse,
        q84_query_expansion,
        q90_keywords,
        q92_rank_fusion,
        q93_lm_dirichlet,
    )

    fns = [q12_tfidf, q13_bm25_topk, q81_host_collapse,
           q84_query_expansion, q90_keywords, q92_rank_fusion,
           q93_lm_dirichlet]
    group = "plan-only-probe"
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan construction must be lazy")
    try:
        dfs = [fn(spark, SF_DIR) for fn in fns]
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup(group) == [], (
        "plan construction ran eager Spark jobs"
    )
    assert dfs


def test_q114_pools_are_take_ordered_and_broadcast(spark):
    """Hybrid retrieval: both retriever pools compile to distributed
    TakeOrderedAndProject; the single query vector broadcasts into the
    cosine scan; nothing degenerates to a cartesian product of the
    corpus (the only cross-join is the 1-row query vector)."""
    from searchengine_spark.pipelines.fulltext import q114_hybrid_retrieval

    p = plan(q114_hybrid_retrieval(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", p)) >= 2, p
    assert "BroadcastExchange" in p


def test_q110_q115_centroid_tables_broadcast(spark):
    """Filtered ANN and the cohesion audit keep their small sides
    broadcast: centroids into assignment/probe (q110), the |labels|-row
    centroid table into the cosine pass (q115). No corpus-sized
    cartesian product in either plan."""
    from searchengine_spark.pipelines.similarity import (
        q110_filtered_ann,
        q115_class_cohesion,
    )

    p = plan(q110_filtered_ann(spark, SF_DIR))
    # the centroid fan-out is a deliberate broadcast cross of the tiny
    # centroid table (BroadcastNestedLoopJoin BuildRight), never an
    # unbroadcast CartesianProduct of the corpus
    assert "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p
    p2 = plan(q115_class_cohesion(spark, SF_DIR))
    assert re.search(r"\(\d+\) BroadcastHashJoin", p2) or (
        "BroadcastExchange" in p2
    ), p2
    assert "CartesianProduct" not in p2


def test_q119_anchor_field_plan(spark):
    """Anchor-field twin: constructing the plan schedules zero Spark
    jobs (n_docs rides as a 1-row broadcast, never a driver count()),
    the documents scan is pruned to (doc_id, text), and no
    CartesianProduct appears — the only cross is the broadcast 1-row
    count."""
    from searchengine_spark.pipelines.fulltext import q119_anchor_field

    group = "q119-plan-probe"
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan construction must be lazy")
    try:
        df = q119_anchor_field(spark, SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    p = plan(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastExchange" in p, p
    for s in scan_blocks(p):
        m = re.search(r"ReadSchema: struct<(.*?)>", s)
        assert m, s
        inner = m.group(1)
        # struct<> = the count-only scan, zero columns read — best case
        cols = {c.split(":")[0] for c in inner.split(",")} if inner else set()
        assert cols <= {"doc_id", "text"}, cols


def test_q121_bm25f_plan(spark):
    """BM25F: the final pool compiles to TakeOrderedAndProject (never a
    global sort), corpus scalars/df ride as broadcasts, the anchor
    field is lazily localCheckpointed (an ExistingRDD checkpoint
    boundary in the plan) so its explode+distinct+agg pipeline feeds
    tf_a/dl_a/total_a once and the blocks are ContextCleaner-collected,
    and nothing degenerates to a CartesianProduct."""
    from searchengine_spark.pipelines.fulltext import q121_bm25f

    p = plan(q121_bm25f(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastExchange" in p, p
    assert "ExistingRDD" in p, p
    assert "CartesianProduct" not in p, p


def test_pagerank_round_is_one_join_and_one_sum(spark):
    """A power-iteration round joins the ranks to the pre-weighted edges
    once and sums once per node: no per-round out-degree join, and the
    old rank rides through the round (prev_u), so the convergence delta
    needs no separate join either."""
    from searchengine_spark.pagerank import PR_BASE_U, _round, _weighted_edges

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    pw = _weighted_edges(edges, nodes).localCheckpoint()
    ranks = nodes.selectExpr("node", "1000000000000L AS u")
    r = _round(pw, ranks, {"u": PR_BASE_U})
    lp = r._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"^[ :+|-]*Join ", lp, re.M)) == 1, lp
    assert len(re.findall(r"^[ :+|-]*Aggregate ", lp, re.M)) == 1, lp
    assert r.columns == ["node", "u", "prev_u"]
