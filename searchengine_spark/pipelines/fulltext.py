"""Full-text scoring over the driver's ``documents`` table, expressed as
pure DataFrame ops so DuckDB can mirror every step (the oracle-checked
twin of the engine's compressed-segment path in ``indexer.py``/``query.py``).

Reference parity:
* wordcount     — Indexer tokenize + foldByKey-sum (jobs/Indexer.java:22-66)
* tfidf         — augmented TF ``0.4 + 0.6*f/maxf`` and ``idf = ln(N/df)``
                  exactly as jobs/TF_IDF.java:59,81-86,119-125,150-153
* bm25_topk     — the north_rule's BM25 (k1=1.2, b=0.75) with the total
                  tie-break (score DESC, doc_id ASC) from SURVEY §7.3

Scale notes: tokenization is a JVM-side split+explode (no Python at all);
the per-term DF table is tiny relative to the token table, so the
idf join is an explicit broadcast; every float that crosses the
engine/oracle boundary is rounded to 9 dp so partial-agg order can't
flip a hash compare (sums themselves are over int tf counts — exact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..bm25 import B, K1
from . import _tables

BM25_QUERY_TERMS = ["spark", "query", "table"]


def load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables.load(spark, sf_dir, "documents")


def tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) one row per token occurrence — split + explode,
    empty tokens dropped (double spaces)."""
    docs = load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")


def q11_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tokens(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count("*").alias("cf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy("term")
    )


def q12_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TF-IDF: per-(doc,term) augmented tf times ln(N/df),
    for terms with df >= 5 (keeps the result compact)."""
    toks = tokens(spark, sf_dir)
    # n_docs rides the plan as a 1-row broadcast (q91's idiom) instead
    # of a separate driver count() job; the cast-to-double division is
    # the same IEEE operation either way
    n_row = load_docs(spark, sf_dir).agg(
        F.count("*").cast("double").alias("n_docs")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    max_tf = tf.groupBy("doc_id").agg(F.max("tf").alias("max_tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (
        tf.join(max_tf, "doc_id")
        .join(F.broadcast(df_t.filter(F.col("df") >= 5)), "term")
        .crossJoin(F.broadcast(n_row))
        .select(
            "doc_id",
            "term",
            F.round(
                (0.4 + 0.6 * F.col("tf") / F.col("max_tf"))
                * F.log(F.col("n_docs") / F.col("df")),
                9,
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "term")
    )


def bm25_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, score) BM25 hits for BM25_QUERY_TERMS — the
    scored candidate set both q13 (plain top-k) and q81 (host-collapsed
    top-k) rank."""
    toks = tokens(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    # corpus scalars (N, avgdl) ride the plan as a 1-row broadcast
    # (q91's idiom) instead of a driver count() + collect() pair —
    # avg(dl) folds exact bigint partial sums, so the one final divide
    # is the same IEEE value at any parallelism
    stats_row = dl.agg(F.avg("dl").alias("avgdl")).crossJoin(
        load_docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))

    return (
        tf.filter(F.col("term").isin(BM25_QUERY_TERMS))
        .join(dl, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats_row))
        .withColumn(
            "score",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * F.lit(K1 + 1.0)
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .drop("n_docs", "avgdl")
    )


def q13_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive BM25 top-15 per query term set {spark,query,table},
    each term treated as its own single-term query (query_id = term)."""
    hits = bm25_hits(spark, sf_dir)
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 15)
        .select("term", "rank", "doc_id", F.round("score", 9).alias("bm25"))
        .orderBy("term", "rank")
    )


DIVERSIFY_NUM_HOSTS = 13
DIVERSIFY_PER_HOST = 2
DIVERSIFY_K = 10


def q81_host_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result diversification: collapse each host to its best
    {DIVERSIFY_PER_HOST} hits before the final top-{DIVERSIFY_K} —
    the classic serving guard against one site filling the page.
    Two stacked windows: the per-(term,host) one partitions on a
    bounded key (hosts × query terms), the per-term one ranks only the
    collapsed survivors (≤ hosts × per_host rows per term), so neither
    is a global sort. Host = abs(doc_id) % n_hosts, the same synthetic
    host model as q79 (the driver tables carry no URL column)."""
    hits = bm25_hits(spark, sf_dir).withColumn(
        "host_id", F.abs(F.col("doc_id")) % DIVERSIFY_NUM_HOSTS
    )
    w_host = Window.partitionBy("term", "host_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w_term = Window.partitionBy("term").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        hits.withColumn("host_rank", F.row_number().over(w_host))
        .filter(F.col("host_rank") <= DIVERSIFY_PER_HOST)
        .withColumn("rank", F.row_number().over(w_term))
        .filter(F.col("rank") <= DIVERSIFY_K)
        .select(
            "term",
            "rank",
            "doc_id",
            "host_id",
            "host_rank",
            F.round("score", 9).alias("bm25"),
        )
        .orderBy("term", "rank")
    )


PROX_PAIR = ("spark", "query")
PROX_WINDOW = 5


def q82_proximity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional proximity ranking for the pair {PROX_PAIR}: per doc
    containing BOTH terms, the minimum token distance between any
    occurrence of the two, the count of co-occurrence pairs within
    PROX_WINDOW tokens, and prox = 1/(1+min_dist) — the relaxed-phrase
    ranking signal between q14's exact adjacency and q13's bag-of-words
    BM25 (index-side twin: the positional pos_blob path, query.py).

    Scale shape: one posexplode map pass; the position join touches only
    docs containing both terms and its per-doc product is
    occ(t1)×occ(t2) — bounded by per-doc term frequency, never
    corpus-sized. prox is an integer-input IEEE division, emitted
    unrounded (bit-identity beats round-at-half-ulp, CLAUDE.md)."""
    docs = load_docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "term")
    t1, t2 = PROX_PAIR
    p1 = toks.filter(F.col("term") == t1).select("doc_id", F.col("pos").alias("p1"))
    p2 = toks.filter(F.col("term") == t2).select("doc_id", F.col("pos").alias("p2"))
    pairs = p1.join(p2, "doc_id").withColumn(
        "dist", F.abs(F.col("p1") - F.col("p2"))
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.min("dist").alias("min_dist"),
            F.count(F.when(F.col("dist") <= PROX_WINDOW, F.lit(1))).alias(
                "n_near_pairs"
            ),
        )
        .select(
            "doc_id",
            "min_dist",
            "n_near_pairs",
            (F.lit(1.0) / (F.lit(1.0) + F.col("min_dist").cast("double"))).alias(
                "prox"
            ),
        )
        .orderBy("doc_id")
    )


PRF_SEED = "spark"
PRF_DOCS = 10  # pseudo-relevant doc pool
PRF_TERMS = 20  # expansion terms returned
PRF_MIN_DF = 5  # drop hapax-ish noise from the expansion pool


def q84_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion: take the BM25 top
    {PRF_DOCS} docs for the seed term, then rank the terms of that doc
    pool by pooled weight = (sum of tf across the pool) * ln(N/df) and
    return the top {PRF_TERMS} (seed excluded, df >= PRF_MIN_DF) — the
    classic Rocchio/RM1-style expansion a search frontend runs between
    retrieval rounds.

    Scale shape: stage 1 is q13's top-k (window over one term's
    postings); stage 2 semi-joins the token stream against a broadcast
    10-row doc list, so the expensive side is one pruned scan. The
    pooled tf is an exact integer sum (no float fold-order hazard); the
    single float multiply happens once per candidate term. The final
    ranking window orders only the pool vocabulary (bounded by
    PRF_DOCS docs' distinct terms), not the corpus vocabulary."""
    hits = bm25_hits(spark, sf_dir).filter(F.col("term") == PRF_SEED)
    w_seed = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    pool = (
        hits.withColumn("r", F.row_number().over(w_seed))
        .filter(F.col("r") <= PRF_DOCS)
        .select("doc_id")
    )
    toks = tokens(spark, sf_dir)
    # N as a 1-row broadcast (q91's idiom), not a driver count() job
    n_row = load_docs(spark, sf_dir).agg(
        F.count("*").cast("double").alias("n_docs")
    )
    df_t = (
        toks.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= PRF_MIN_DF)
    )
    pool_tf = (
        toks.join(F.broadcast(pool), "doc_id")
        .groupBy("term")
        .agg(F.count("*").alias("pool_tf"))
        .filter(F.col("term") != PRF_SEED)
    )
    scored = (
        pool_tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_row))
        .select(
            "term",
            "pool_tf",
            "df",
            F.round(
                F.col("pool_tf") * F.log(F.col("n_docs") / F.col("df")), 9
            ).alias("weight"),
        )
    )
    w_rank = Window.orderBy(F.desc("weight"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= PRF_TERMS)
        .select("rank", "term", "pool_tf", "df", "weight")
        .orderBy("rank")
    )


PHRASE = ("spark", "query")


def q14_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase match ("spark query" adjacent tokens) as pure
    JVM array expressions — the oracle-checked twin of the index-side
    positional phrase query (``query.phrase_match`` over pos_blob)."""
    docs = load_docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    w1, w2 = PHRASE
    hits = F.when(
        F.size(toks) > 1,
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: (F.element_at(toks, i) == w1)
                & (F.element_at(toks, i + 1) == w2),
            )
        ),
    ).otherwise(F.lit(0))
    return (
        docs.select("doc_id", hits.cast("int").alias("n_hits"))
        .filter(F.col("n_hits") > 0)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q90: per-document keyword extraction — top-KW_TOP_K terms per doc by
# q12's augmented tf-idf. The doc-summarization primitive (tag clouds,
# related-doc features, index-pruning hints) a search stack derives
# from the same statistics the ranker already maintains. Scale shape:
# identical to q12 (two hash aggs + one broadcast df join — vocab-sized,
# Zipf-bounded) plus ONE row_number window partitioned by doc_id over
# the per-doc term lists. Tie-break: tfidf DESC (9dp-rounded) then term
# ASC — total order.
# --------------------------------------------------------------------------

KW_TOP_K = 5


def q90_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens(spark, sf_dir)
    # N as a 1-row broadcast (q91's idiom), not a driver count() job
    n_row = load_docs(spark, sf_dir).agg(
        F.count("*").cast("double").alias("n_docs")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    max_tf = tf.groupBy("doc_id").agg(F.max("tf").alias("max_tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(max_tf, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_row))
        .select(
            "doc_id",
            "term",
            F.round(
                (0.4 + 0.6 * F.col("tf") / F.col("max_tf"))
                * F.log(F.col("n_docs") / F.col("df")),
                9,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KW_TOP_K)
        .select("doc_id", "rank", "term", "tfidf")
        .orderBy("doc_id", "rank")
    )


# --------------------------------------------------------------------------
# q91: more-like-this — top-MLT_K similar docs per seed doc by tf-idf
# cosine, the serving-side "related documents" feature (the reference
# frontend has no MLT, but every production search stack grows one; the
# per-query sibling of q54's corpus-wide pair materialization).
#
# Scale shape: the seed side is MLT_N_SEEDS normalized vectors —
# broadcast; the corpus side is ONE inverted-index equi-join on term
# against that broadcast (touches only postings of terms the seeds
# contain), then a hash agg on (seed_id, doc_id). No self-join, no
# all-pairs: cost = Σ df(seed terms), the classic MLT bound. Dot
# products sum DECIMAL(28,12) partials (order-insensitive, CLAUDE.md);
# the ranking window orders only each seed's candidate list.
# --------------------------------------------------------------------------

MLT_N_SEEDS = 5  # seeds = the MLT_N_SEEDS lowest doc_ids (deterministic)
MLT_K = 10
MLT_MIN_DF = 5  # hapax terms carry no similarity signal and bloat vectors


def q91_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens(spark, sf_dir)
    docs = load_docs(spark, sf_dir)
    # n_docs rides the plan as a 1-row broadcast (q54's idiom) instead
    # of a separate driver count() job; n_docs double / df bigint is
    # the same IEEE division either way
    n_row = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df")).filter(
        F.col("df") >= MLT_MIN_DF
    )
    w = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_row))
        .withColumn("w", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    norms = (
        w.groupBy("doc_id")
        .agg(F.sum((F.col("w") * F.col("w")).cast("decimal(28,12)")).alias("ss"))
        .select("doc_id", F.sqrt(F.col("ss").cast("double")).alias("nrm"))
        # a doc whose surviving terms all have df == n_docs gets w = 0
        # for every term → nrm = 0, and w/nrm would be NULL on Spark
        # (non-ANSI) but NaN on DuckDB; drop zero-norm docs explicitly
        # on both engines (they carry no similarity signal anyway)
        .filter(F.col("nrm") > 0)
    )
    inv = w.join(norms, "doc_id").select(
        "term", "doc_id", (F.col("w") / F.col("nrm")).alias("wn")
    )
    seeds = docs.select("doc_id").orderBy("doc_id").limit(MLT_N_SEEDS)
    seed_vecs = inv.join(seeds, "doc_id").select(
        F.col("term").alias("t"),
        F.col("doc_id").alias("seed_id"),
        F.col("wn").alias("ws"),
    )
    cand = (
        inv.join(F.broadcast(seed_vecs), inv["term"] == seed_vecs["t"])
        .filter(F.col("doc_id") != F.col("seed_id"))
        .groupBy("seed_id", "doc_id")
        .agg(
            F.sum((F.col("ws") * F.col("wn")).cast("decimal(28,12)")).alias(
                "dot"
            )
        )
        .select("seed_id", "doc_id", F.col("dot").cast("double").alias("cosine"))
    )
    w_rank = Window.partitionBy("seed_id").orderBy(
        F.desc("cosine"), F.asc("doc_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= MLT_K)
        .select(
            "seed_id", "rank", "doc_id", F.round("cosine", 9).alias("cosine")
        )
        .orderBy("seed_id", "rank")
    )


# --------------------------------------------------------------------------
# q92: reciprocal-rank fusion — fuse the BM25 ranking and the augmented
# tf-idf ranking for the seed term with RRF(d) = Σ_r 1/(RRF_C + rank_r(d))
# (Cormack/Clarke/Buettcher 2009), the standard way a serving tier blends
# retrievers with incomparable score scales (the general form of the
# reference's fixed 0.3/0.5/0.2 blend, Mainpage.java).
#
# Scale shape: each input pool is a distributed TakeOrderedAndProject
# (per-partition top-RRF_POOL + driver merge — never shuffles the
# term's full posting list to one task); the fusion is a full outer
# join of two ≤RRF_POOL-row lists. The RRF sum is a 2-term
# add in a fixed coalesce order — no float fold hazard. Both input
# rankings order by the 9dp-ROUNDED score (tie-break doc_id ASC): the
# rounded values are proven cross-engine identical (q13/q12 gates),
# so rank positions — the only thing RRF consumes — can't drift on a
# sub-9dp ulp difference deep in the 50-row pool.
# --------------------------------------------------------------------------

RRF_TERM = "spark"
RRF_C = 60  # the paper's k constant
RRF_POOL = 50  # per-retriever candidate depth
RRF_K = 15  # fused results returned


def q92_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm25 = (
        bm25_hits(spark, sf_dir)
        .filter(F.col("term") == RRF_TERM)
        .withColumn("score_r", F.round("score", 9))
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-50 + driver merge) — the unpartitioned ranking window then
    # only ever sees RRF_POOL rows, never the term's full posting list.
    w_b = Window.orderBy(F.desc("score_r"), F.asc("doc_id"))
    r_bm25 = (
        bm25.select("doc_id", "score_r")
        .orderBy(F.desc("score_r"), F.asc("doc_id"))
        .limit(RRF_POOL)
        .withColumn("rank_bm25", F.row_number().over(w_b))
        .select("doc_id", "rank_bm25")
    )
    toks = tokens(spark, sf_dir)
    # N as a 1-row broadcast (q91's idiom), not a driver count() job
    n_row = load_docs(spark, sf_dir).agg(
        F.count("*").cast("double").alias("n_docs")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    max_tf = tf.groupBy("doc_id").agg(F.max("tf").alias("max_tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    tfidf = (
        tf.filter(F.col("term") == RRF_TERM)
        .join(max_tf, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_row))
        .select(
            "doc_id",
            F.round(
                (0.4 + 0.6 * F.col("tf") / F.col("max_tf"))
                * F.log(F.col("n_docs") / F.col("df")),
                9,
            ).alias("tfidf"),
        )
    )
    w_t = Window.orderBy(F.desc("tfidf"), F.asc("doc_id"))
    r_tfidf = (
        tfidf.orderBy(F.desc("tfidf"), F.asc("doc_id"))
        .limit(RRF_POOL)
        .withColumn("rank_tfidf", F.row_number().over(w_t))
        .select("doc_id", "rank_tfidf")
    )
    fused = r_bm25.join(r_tfidf, "doc_id", "full_outer").select(
        "doc_id",
        "rank_bm25",
        "rank_tfidf",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_C) + F.col("rank_bm25")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_C) + F.col("rank_tfidf")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    w_f = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= RRF_K)
        .select(
            "rank", "doc_id", "rank_bm25", "rank_tfidf",
            F.round("rrf", 9).alias("rrf"),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# q93: Dirichlet-smoothed query-likelihood ranking (Ponte/Croft 1998,
# Zhai/Lafferty 2001) — the LM retriever family, the third scoring model
# next to BM25 (q13) and augmented tf-idf (q12):
#   score(q,d) = Σ_t ln( (tf(t,d) + μ·cf(t)/|C|) / (|d| + μ) )
#
# Scale shape: only docs containing ≥1 query term are scored (docs with
# none share a constant background score and can never enter the top-k
# above a candidate — the standard LM-WAND candidate cut), so the grid
# is |candidates| × |q| rows built from one posting-list union and a
# broadcast 3-row cf table; the final top-k is a distributed
# TakeOrderedAndProject. Per-term log scores sum as DECIMAL(28,12)
# partials (order-insensitive — CLAUDE.md float-fold discipline).
# --------------------------------------------------------------------------

QL_MU = 2000.0
QL_K = 15


def q93_lm_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    # exact |C| rides the plan as a 1-row broadcast (q91's idiom), not
    # a driver count() job
    total_row = toks.agg(F.count("*").cast("double").alias("total_c"))
    tf_q = tf.filter(F.col("term").isin(BM25_QUERY_TERMS))
    cf = tf_q.groupBy("term").agg(F.sum("tf").alias("cf"))
    cand = tf_q.select("doc_id").distinct()
    grid = (
        cand.join(dl, "doc_id")
        .crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(total_row))
    )
    scored = (
        grid.join(tf_q, ["doc_id", "term"], "left")
        .withColumn("tf0", F.coalesce(F.col("tf"), F.lit(0)))
        .withColumn(
            "score_t",
            F.log(
                (
                    F.col("tf0")
                    + F.lit(QL_MU) * F.col("cf") / F.col("total_c")
                )
                / (F.col("dl") + F.lit(QL_MU))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("score_t").cast("decimal(28,12)")).alias("s"))
        .select("doc_id", F.col("s").cast("double").alias("score"))
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(QL_K)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", F.round("score", 9).alias("ql"))
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# q111: faceted search counts — the sidebar a result page renders next
# to the top-k: for each query term, how many matching documents fall
# in each facet bucket (source and lang dimensions). Facets count the
# FULL match set, not the visible page, so they cannot ride q13's
# top-k window — they are their own aggregation over the posting list.
#
# Scale shape: the match set is (doc_id, term) distinct — the posting
# list, shuffled on doc_id once to attach the 2-column facet
# projection; both facet dimensions then ride ONE explode(map) + ONE
# hash agg keyed (term, dim, val) — bounded by |terms|×|facet values|,
# never a second scan per dimension.
# --------------------------------------------------------------------------


def q111_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir).select("doc_id", "source", "lang")
    match = (
        tokens(spark, sf_dir)
        .filter(F.col("term").isin(BM25_QUERY_TERMS))
        .distinct()
    )
    j = match.join(docs, "doc_id")
    facets = j.select(
        "term",
        F.explode(
            F.create_map(
                F.lit("source"), F.col("source"),
                F.lit("lang"), F.col("lang"),
            )
        ).alias("facet_dim", "facet_val"),
    )
    return (
        facets.groupBy("term", "facet_dim", "facet_val")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("term", "facet_dim", "facet_val")
    )


# --------------------------------------------------------------------------
# q114: HYBRID retrieval — the modern search stack: a lexical BM25 list
# and a vector-cosine list over the same corpus (doc_id ≡ vec_id in the
# driver tables), fused with reciprocal-rank fusion. RRF is the
# production hybrid fuser precisely because it needs no score
# calibration between the incommensurable BM25 and cosine scales —
# only ranks cross the boundary.
#
# Scale shape: each pool is a distributed TakeOrderedAndProject
# (per-partition top-POOL + driver merge — q92's discipline, so the
# unpartitioned rank window only ever sees POOL rows); the cosine side
# broadcasts the single query vector over one pruned embeddings scan;
# fusion is a full-outer join of two ≤POOL-row lists. Ranks come from
# 9dp-rounded scores so both engines agree on every tie.
# --------------------------------------------------------------------------

HYBRID_TERM = "spark"
HYBRID_QVEC = 0  # query vector id (embeddings vec_id < 10 are queries)
HYBRID_POOL = 50
HYBRID_C = 60
HYBRID_K = 15


def q114_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import N_QUERIES, _dot, _with_norm, load_emb

    bm25 = (
        bm25_hits(spark, sf_dir)
        .filter(F.col("term") == HYBRID_TERM)
        .withColumn("score_r", F.round("score", 9))
    )
    w_l = Window.orderBy(F.desc("score_r"), F.asc("doc_id"))
    r_lex = (
        bm25.select("doc_id", "score_r")
        .orderBy(F.desc("score_r"), F.asc("doc_id"))
        .limit(HYBRID_POOL)
        .withColumn("rank_lex", F.row_number().over(w_l))
        .select("doc_id", "rank_lex")
    )
    e = _with_norm(load_emb(spark, sf_dir))
    qv = e.filter(F.col("vec_id") == HYBRID_QVEC).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cos = (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")),
                9,
            ).alias("cos_r"),
        )
    )
    w_v = Window.orderBy(F.desc("cos_r"), F.asc("doc_id"))
    r_vec = (
        cos.orderBy(F.desc("cos_r"), F.asc("doc_id"))
        .limit(HYBRID_POOL)
        .withColumn("rank_vec", F.row_number().over(w_v))
        .select("doc_id", "rank_vec")
    )
    fused = r_lex.join(r_vec, "doc_id", "full_outer").select(
        "doc_id",
        "rank_lex",
        "rank_vec",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(HYBRID_C) + F.col("rank_lex")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(HYBRID_C) + F.col("rank_vec")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    w_f = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= HYBRID_K)
        .select(
            "rank",
            "doc_id",
            "rank_lex",
            "rank_vec",
            F.round("rrf", 9).alias("rrf"),
        )
        .orderBy("rank")
    )


QUERIES = {
    "q11_wordcount": q11_wordcount,
    "q12_tfidf": q12_tfidf,
    "q111_facet_counts": q111_facet_counts,
    "q114_hybrid_retrieval": q114_hybrid_retrieval,
    "q13_bm25_topk": q13_bm25_topk,
    "q14_phrase_match": q14_phrase_match,
    "q81_host_collapse": q81_host_collapse,
    "q82_proximity_rank": q82_proximity_rank,
    "q84_query_expansion": q84_query_expansion,
    "q90_keywords": q90_keywords,
    "q91_more_like_this": q91_more_like_this,
    "q92_rank_fusion": q92_rank_fusion,
    "q93_lm_dirichlet": q93_lm_dirichlet,
}

_TOKENS_CTE = """
toks AS (
  SELECT doc_id, w AS term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
)
"""

ORACLE = {
    "q11_wordcount": f"""
WITH {_TOKENS_CTE}
SELECT term, count(*) AS cf, count(DISTINCT doc_id) AS df
FROM toks GROUP BY term ORDER BY term
""",
    "q12_tfidf": f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
mx AS (SELECT doc_id, max(tf) AS max_tf FROM tf GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term,
       round((0.4 + 0.6 * tf.tf / mx.max_tf)
             * ln(CAST(n.n_docs AS DOUBLE) / dft.df), 9) AS tfidf
FROM tf JOIN mx USING (doc_id) JOIN dft USING (term) CROSS JOIN n
WHERE dft.df >= 5
ORDER BY doc_id, term
""",
    "q14_phrase_match": """
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       len(list_filter(generate_series(1, len(toks) - 1),
                       i -> toks[i] = 'spark' AND toks[i+1] = 'query'))::INT
         AS n_hits
FROM d
WHERE len(list_filter(generate_series(1, len(toks) - 1),
                      i -> toks[i] = 'spark' AND toks[i+1] = 'query')) > 0
ORDER BY doc_id
""",
    "q13_bm25_topk": f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
hits AS (
  SELECT tf.term, tf.doc_id,
         ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * (1.2 + 1.0) * tf.tf
           / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / ad.avgdl)) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term)
  CROSS JOIN n CROSS JOIN ad
  WHERE tf.term IN ('spark', 'query', 'table')
)
SELECT term, rank, doc_id, round(score, 9) AS bm25
FROM (
  SELECT term, doc_id, score,
         row_number() OVER (PARTITION BY term
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM hits
)
WHERE rank <= 15
ORDER BY term, rank
""",
    "q81_host_collapse": f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
hits AS (
  SELECT tf.term, tf.doc_id,
         abs(tf.doc_id) % {DIVERSIFY_NUM_HOSTS} AS host_id,
         ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * (1.2 + 1.0) * tf.tf
           / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / ad.avgdl)) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term)
  CROSS JOIN n CROSS JOIN ad
  WHERE tf.term IN ('spark', 'query', 'table')
),
collapsed AS (
  SELECT *, row_number() OVER (PARTITION BY term, host_id
                               ORDER BY score DESC, doc_id ASC) AS host_rank
  FROM hits
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY term
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM collapsed WHERE host_rank <= {DIVERSIFY_PER_HOST}
)
SELECT term, rank, doc_id, host_id, host_rank, round(score, 9) AS bm25
FROM ranked WHERE rank <= {DIVERSIFY_K}
ORDER BY term, rank
""",
    "q82_proximity_rank": f"""
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
tp AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM d
),
tt AS (SELECT doc_id, pos, toks[pos] AS term FROM tp),
p1 AS (SELECT doc_id, pos AS p1 FROM tt WHERE term = '{PROX_PAIR[0]}'),
p2 AS (SELECT doc_id, pos AS p2 FROM tt WHERE term = '{PROX_PAIR[1]}'),
pairs AS (
  SELECT p1.doc_id, abs(p1.p1 - p2.p2) AS dist
  FROM p1 JOIN p2 USING (doc_id)
)
SELECT doc_id, min(dist) AS min_dist,
       count(CASE WHEN dist <= {PROX_WINDOW} THEN 1 END) AS n_near_pairs,
       1.0::DOUBLE / (1.0::DOUBLE + min(dist)) AS prox
FROM pairs GROUP BY doc_id ORDER BY doc_id
""",
    "q84_query_expansion": f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
hits AS (
  SELECT tf.doc_id,
         ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * (1.2 + 1.0) * tf.tf
           / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / ad.avgdl)) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term)
  CROSS JOIN n CROSS JOIN ad
  WHERE tf.term = '{PRF_SEED}'
),
pool AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
    FROM hits
  ) WHERE r <= {PRF_DOCS}
),
pool_tf AS (
  SELECT term, count(*) AS pool_tf
  FROM toks JOIN pool USING (doc_id)
  WHERE term <> '{PRF_SEED}'
  GROUP BY term
),
dfx AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
  HAVING count(DISTINCT doc_id) >= {PRF_MIN_DF}
),
scored AS (
  SELECT term, pool_tf, df,
         round(pool_tf * ln(CAST(n.n_docs AS DOUBLE) / df), 9) AS weight
  FROM pool_tf JOIN dfx USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY weight DESC, term ASC) AS rank
  FROM scored
)
SELECT rank, term, pool_tf, df, weight FROM ranked
WHERE rank <= {PRF_TERMS} ORDER BY rank
""",
}
# q90: q12's CTE chain + row_number per doc.
ORACLE["q90_keywords"] = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
mx AS (SELECT doc_id, max(tf) AS max_tf FROM tf GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round((0.4 + 0.6 * tf.tf / mx.max_tf)
               * ln(CAST(n.n_docs AS DOUBLE) / dft.df), 9) AS tfidf
  FROM tf JOIN mx USING (doc_id) JOIN dft USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, tfidf
FROM (SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
WHERE rank <= {KW_TOP_K}
ORDER BY doc_id, rank
"""
# q91: q54's DECIMAL(28,12)-partial norm/dot fold (order-insensitive,
# exact) restricted to the MLT_N_SEEDS broadcast seed vectors; ranking
# keys (unrounded cosines) are decimal-exact in both engines.
ORACLE["q91_more_like_this"] = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
dft AS (SELECT term, count(*) AS df FROM tf
        GROUP BY term HAVING count(*) >= {MLT_MIN_DF}),
w AS (
  SELECT doc_id, term, tf * ln((SELECT n_docs FROM n) / df) AS w
  FROM tf JOIN dft USING (term)
),
norms AS (
  SELECT doc_id, sqrt(sum(CAST(w * w AS DECIMAL(28,12)))::DOUBLE) AS nrm
  FROM w GROUP BY doc_id
),
inv AS (SELECT term, doc_id, w / nrm AS wn FROM w JOIN norms USING (doc_id)
        WHERE nrm > 0),
seeds AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {MLT_N_SEEDS}),
sv AS (
  SELECT i.term, i.doc_id AS seed_id, i.wn AS ws
  FROM inv i JOIN seeds s ON i.doc_id = s.doc_id
),
cand AS (
  SELECT sv.seed_id, i.doc_id,
         sum(CAST(sv.ws * i.wn AS DECIMAL(28,12)))::DOUBLE AS cosine
  FROM inv i JOIN sv ON i.term = sv.term
  WHERE i.doc_id <> sv.seed_id
  GROUP BY 1, 2
)
SELECT seed_id, rank, doc_id, round(cosine, 9) AS cosine
FROM (SELECT seed_id, doc_id, cosine,
             row_number() OVER (PARTITION BY seed_id
               ORDER BY cosine DESC, doc_id ASC) AS rank
      FROM cand)
WHERE rank <= {MLT_K}
ORDER BY seed_id, rank
"""
# q92: q13's BM25 CTE + q12's tf-idf CTE, each ranked on its
# 9dp-rounded score (identical keys cross-engine); the RRF terms use
# ::DOUBLE literals (DuckDB parses bare 1.0 as DECIMAL — CLAUDE.md).
ORACLE["q92_rank_fusion"] = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
bm25 AS (
  SELECT tf.doc_id,
         round(ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
               * (1.2 + 1.0) * tf.tf
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / ad.avgdl)),
               9) AS score_r
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term)
  CROSS JOIN n CROSS JOIN ad
  WHERE tf.term = '{RRF_TERM}'
),
r_b AS (
  SELECT doc_id, rank_bm25 FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score_r DESC, doc_id ASC)
             AS rank_bm25
    FROM bm25)
  WHERE rank_bm25 <= {RRF_POOL}
),
mx AS (SELECT doc_id, max(tf) AS max_tf FROM tf GROUP BY doc_id),
ti AS (
  SELECT tf.doc_id,
         round((0.4 + 0.6 * tf.tf / mx.max_tf)
               * ln(CAST(n.n_docs AS DOUBLE) / dft.df), 9) AS tfidf
  FROM tf JOIN mx USING (doc_id) JOIN dft USING (term) CROSS JOIN n
  WHERE tf.term = '{RRF_TERM}'
),
r_t AS (
  SELECT doc_id, rank_tfidf FROM (
    SELECT doc_id, row_number() OVER (ORDER BY tfidf DESC, doc_id ASC)
             AS rank_tfidf
    FROM ti)
  WHERE rank_tfidf <= {RRF_POOL}
),
fused AS (
  SELECT coalesce(r_b.doc_id, r_t.doc_id) AS doc_id, rank_bm25, rank_tfidf,
         coalesce(1.0::DOUBLE / ({RRF_C} + rank_bm25), 0.0::DOUBLE)
           + coalesce(1.0::DOUBLE / ({RRF_C} + rank_tfidf), 0.0::DOUBLE)
           AS rrf
  FROM r_b FULL OUTER JOIN r_t ON r_b.doc_id = r_t.doc_id
)
SELECT rank, doc_id, rank_bm25, rank_tfidf, round(rrf, 9) AS rrf
FROM (SELECT doc_id, rank_bm25, rank_tfidf, rrf,
             row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
      FROM fused)
WHERE rank <= {RRF_K}
ORDER BY rank
"""
# q93: candidate grid = (docs with >=1 query term) × 3 terms; per-term
# Dirichlet log scores fold as DECIMAL(28,12) partials exactly like the
# Spark side (float constants embedded ::DOUBLE — CLAUDE.md).
ORACLE["q93_lm_dirichlet"] = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tot AS (SELECT count(*)::DOUBLE AS total FROM toks),
tfq AS (SELECT * FROM tf
        WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)})),
cf AS (SELECT term, sum(tf) AS cf FROM tfq GROUP BY term),
cand AS (SELECT DISTINCT doc_id FROM tfq),
grid AS (
  SELECT cand.doc_id, dl.dl, cf.term, cf.cf
  FROM cand JOIN dl USING (doc_id) CROSS JOIN cf
),
scored AS (
  SELECT g.doc_id,
         sum(CAST(ln((coalesce(t.tf, 0)
                      + {QL_MU}::DOUBLE * g.cf / (SELECT total FROM tot))
                     / (g.dl + {QL_MU}::DOUBLE))
                  AS DECIMAL(28,12)))::DOUBLE AS score
  FROM grid g LEFT JOIN tfq t ON g.doc_id = t.doc_id AND g.term = t.term
  GROUP BY g.doc_id
)
SELECT rank, doc_id, round(score, 9) AS ql
FROM (SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored)
WHERE rank <= {QL_K}
ORDER BY rank
"""

# q111: the match set is DISTINCT (doc_id, term); both facet dimensions
# come from one UNION ALL projection (the explode(map) twin), one agg.
_Q111_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
ORACLE["q111_facet_counts"] = f"""
WITH {_TOKENS_CTE},
match AS (
  SELECT DISTINCT doc_id, term FROM toks
  WHERE term IN ({_Q111_TERMS})
),
j AS (
  SELECT m.term, d.source, d.lang
  FROM match m JOIN documents d USING (doc_id)
),
facets AS (
  SELECT term, 'source' AS facet_dim, source AS facet_val FROM j
  UNION ALL
  SELECT term, 'lang' AS facet_dim, lang AS facet_val FROM j
)
SELECT term, facet_dim, facet_val, count(*)::BIGINT AS n_docs
FROM facets GROUP BY term, facet_dim, facet_val
ORDER BY term, facet_dim, facet_val
"""

# q114: q92's pool/rank/fusion idiom with the second retriever swapped
# for the vector-cosine list; both pools capped at HYBRID_POOL before
# any ranking window.
ORACLE["q114_hybrid_retrieval"] = f"""
WITH {{tokcte}},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
bm25 AS (
  SELECT tf.doc_id,
         round(ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
               * (1.2 + 1.0) * tf.tf
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / ad.avgdl)),
               9) AS score_r
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term)
  CROSS JOIN n CROSS JOIN ad
  WHERE tf.term = '{HYBRID_TERM}'
),
r_l AS (
  SELECT doc_id, rank_lex FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score_r DESC, doc_id ASC)
             AS rank_lex
    FROM bm25)
  WHERE rank_lex <= {HYBRID_POOL}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
en AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(v)), i -> v[i] * v[i])),
           (acc, x) -> acc + x)) AS nrm
  FROM e
),
qv AS (SELECT v AS q, nrm AS qn FROM en WHERE vec_id = {HYBRID_QVEC}),
cos AS (
  SELECT vec_id AS doc_id,
         round(list_reduce(list_prepend(0.0,
                 list_transform(generate_series(1, len(v)),
                                i -> v[i] * q[i])),
               (acc, x) -> acc + x) / (qn * nrm), 9) AS cos_r
  FROM en CROSS JOIN qv WHERE vec_id >= {{nq}}
),
r_v AS (
  SELECT doc_id, rank_vec FROM (
    SELECT doc_id, row_number() OVER (ORDER BY cos_r DESC, doc_id ASC)
             AS rank_vec
    FROM cos)
  WHERE rank_vec <= {HYBRID_POOL}
),
fused AS (
  SELECT coalesce(r_l.doc_id, r_v.doc_id) AS doc_id, rank_lex, rank_vec,
         coalesce(1.0::DOUBLE / ({HYBRID_C} + rank_lex), 0.0::DOUBLE)
           + coalesce(1.0::DOUBLE / ({HYBRID_C} + rank_vec), 0.0::DOUBLE)
           AS rrf
  FROM r_l FULL OUTER JOIN r_v ON r_l.doc_id = r_v.doc_id
)
SELECT rank, doc_id, rank_lex, rank_vec, round(rrf, 9) AS rrf
FROM (SELECT doc_id, rank_lex, rank_vec, rrf,
             row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
      FROM fused)
WHERE rank <= {HYBRID_K}
ORDER BY rank
"""


def _q114_finalize_oracle() -> None:
    from .similarity import N_QUERIES as _nq

    ORACLE["q114_hybrid_retrieval"] = ORACLE["q114_hybrid_retrieval"].format(
        tokcte=_TOKENS_CTE.strip(), nq=_nq
    )


_q114_finalize_oracle()


# --------------------------------------------------------------------------
# q119: inbound anchor-text field — the oracle-gated twin of the serving
# tier's anchor stage (anchors.py: href extraction -> normalize ->
# per-anchor term SET -> (target doc, term, n_anchors) hash agg; blend
# component of score_exhaustive(w_anchor=...)). The driver tables carry
# no HTML, so the link graph is synthesized deterministically from
# doc_id (the frontier/q79 convention): each doc emits ANCHOR_FANOUT
# outbound links (the reference keeps 10 extracted links per page,
# Crawler.java:281-283) to dst = (doc_id*7 + 13*j) % n_docs, and the
# j-th anchor's text is the ANCHOR_WORDS-word slice of the SOURCE text
# starting at word j — distinct anchors from one source carry distinct
# text, like real pages. Semantics mirror anchors.anchor_occurrences
# exactly: term set PER ANCHOR (duplicates within one anchor collapse;
# the same term arriving via different anchors counts once per anchor),
# then n_anchors = count per (target, term), then the top ANCHOR_TOP
# terms per target (n_anchors DESC, term ASC — total tie-break).
#
# Scale shape: one corpus pass (split + slice + explode, no shuffle
# until the agg), a DISTINCT + hash agg on (dst, term) — output bounded
# by anchor tokens, far below the token table; the per-target top-k is
# a window over groups of <= fanout*words rows. n_docs rides the plan
# as a 1-row broadcast (q91's idiom), never a driver count() job.

ANCHOR_FANOUT = 3
ANCHOR_WORDS = 3
ANCHOR_TOP = 2


def anchor_field_full(docs: DataFrame) -> DataFrame:
    """(dst_id, term, n_anchors) — the FULL inbound anchor-text field
    over the synthetic link graph (q119 windows it to the top terms;
    q121's BM25F consumes it whole as the anchor field)."""
    n_row = docs.agg(F.count("*").alias("n_docs"))
    toks_arr = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    links = (
        docs.crossJoin(F.broadcast(n_row))
        .select(
            F.col("doc_id").alias("src_id"),
            F.col("n_docs"),
            toks_arr.alias("toks"),
            F.explode(
                F.array(*[F.lit(k) for k in range(1, ANCHOR_FANOUT + 1)])
            ).alias("j"),
        )
        .select(
            "src_id",
            "j",
            ((F.col("src_id") * 7 + F.col("j") * 13) % F.col("n_docs"))
            .alias("dst_id"),
            F.slice(F.col("toks"), F.col("j"), ANCHOR_WORDS).alias("anchor"),
        )
        .filter(F.col("src_id") != F.col("dst_id"))
    )
    occ = (
        links.select(
            "src_id", "j", "dst_id", F.explode("anchor").alias("term")
        )
        .distinct()  # per-anchor term SET (anchors.py semantics)
    )
    return occ.groupBy("dst_id", "term").agg(F.count("*").alias("n_anchors"))


def q119_anchor_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    field = anchor_field_full(load_docs(spark, sf_dir))
    w = Window.partitionBy("dst_id").orderBy(
        F.desc("n_anchors"), F.asc("term")
    )
    return (
        field.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ANCHOR_TOP)
        .select(
            F.col("dst_id").alias("doc_id"), "term", "n_anchors", "rnk"
        )
        .orderBy("doc_id", "rnk")
    )


QUERIES["q119_anchor_field"] = q119_anchor_field

ORACLE["q119_anchor_field"] = f"""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
links AS (
  SELECT d.doc_id AS src_id, j.j,
         (d.doc_id * 7 + j.j * 13) % n.n_docs AS dst_id,
         list_slice(list_filter(string_split(d.text, ' '), x -> x <> ''),
                    j.j, j.j + {ANCHOR_WORDS - 1}) AS anchor
  FROM documents d
  CROSS JOIN n
  CROSS JOIN (VALUES {", ".join(f"({k})" for k in range(1, ANCHOR_FANOUT + 1))}) AS j(j)
),
occ AS (
  SELECT DISTINCT src_id, j, dst_id, t.term
  FROM links, unnest(links.anchor) AS t(term)
  WHERE src_id <> dst_id
),
field AS (
  SELECT dst_id, term, count(*) AS n_anchors
  FROM occ GROUP BY dst_id, term
)
SELECT doc_id, term, n_anchors, rnk
FROM (
  SELECT dst_id AS doc_id, term, n_anchors,
         row_number() OVER (PARTITION BY dst_id
                            ORDER BY n_anchors DESC, term ASC) AS rnk
  FROM field
)
WHERE rnk <= {ANCHOR_TOP}
ORDER BY doc_id, rnk
"""


# --------------------------------------------------------------------------
# q121: BM25F — field-weighted BM25 over TWO fields: the document body
# and the q119 inbound anchor-text field (Robertson/Zaragoza/Taylor,
# CIKM'04: per-field length-normalized tf, weighted-summed into one
# pseudo-frequency, ONE saturation k1 on the combined value — NOT a
# score-level mix, which would double-saturate). This is the scoring
# upgrade the serving tier's w_anchor blend approximates; idf is over
# documents matching in ANY field.
#
# Determinism: the per-doc score is a sum over the (two) fixed query
# terms — folded as MAX-per-term conditional aggregates added in a
# FIXED order (s_t0 + s_t1), never a float SUM whose partial order
# could vary with parallelism. Scale shape: anchor field from
# anchor_field_full (hash aggs), body tf/dl hash aggs, df and corpus
# scalars as 1-row broadcasts, pool via orderBy+limit
# (TakeOrderedAndProject), rank window over <= K rows.
# --------------------------------------------------------------------------

BM25F_TERMS = ("spark", "query")
BM25F_W_BODY = 1.0
BM25F_W_ANCHOR = 2.0
BM25F_B_BODY = 0.75
BM25F_B_ANCHOR = 0.5
BM25F_K = 20


def q121_bm25f(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    toks = tokens(spark, sf_dir)
    terms = list(BM25F_TERMS)

    tf_b = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf_b"))
    )
    dl_b = toks.groupBy("doc_id").agg(F.count("*").alias("dl_b"))
    # the anchor field feeds THREE subtrees (tf_a, dl_a, total_a);
    # lazy localCheckpoint so the explode+distinct+agg pipeline runs
    # once, not 3x — still no job at plan-construction time, and unlike
    # cache() the blocks are ContextCleaner-collected when this
    # invocation's DataFrames go out of scope (repeated registry
    # invocations don't accumulate CacheManager entries)
    af = anchor_field_full(docs).localCheckpoint(eager=False)
    tf_a = af.filter(F.col("term").isin(terms)).select(
        F.col("dst_id").alias("doc_id"), "term",
        F.col("n_anchors").alias("tf_a"),
    )
    dl_a = af.groupBy(F.col("dst_id").alias("doc_id")).agg(
        F.sum("n_anchors").alias("dl_a")
    )
    # corpus scalars ride the plan as a 1-row broadcast (q91's idiom):
    # avgdl_b exact-int partial sums / one divide; avgdl_a counts docs
    # with NO anchors as length 0 (total anchor occurrences / n_docs)
    stats = (
        dl_b.agg(F.avg("dl_b").alias("avgdl_b"))
        .crossJoin(af.agg(F.sum("n_anchors").alias("total_a")))
        .crossJoin(docs.agg(F.count("*").alias("n_docs")))
        .select(
            "avgdl_b",
            (F.col("total_a").cast("double") / F.col("n_docs")).alias(
                "avgdl_a"
            ),
            "n_docs",
        )
    )
    cand = tf_b.join(tf_a, ["doc_id", "term"], "full_outer").select(
        "doc_id",
        "term",
        F.coalesce("tf_b", F.lit(0)).alias("tf_b"),
        F.coalesce("tf_a", F.lit(0)).alias("tf_a"),
    )
    df_any = cand.groupBy("term").agg(F.count("*").alias("df"))
    tfn = F.lit(BM25F_W_BODY) * F.col("tf_b") / (
        F.lit(1.0 - BM25F_B_BODY)
        + F.lit(BM25F_B_BODY) * F.col("dl_b") / F.col("avgdl_b")
    ) + F.lit(BM25F_W_ANCHOR) * F.col("tf_a") / (
        F.lit(1.0 - BM25F_B_ANCHOR)
        + F.lit(BM25F_B_ANCHOR) * F.col("dl_a") / F.col("avgdl_a")
    )
    sc = (
        cand.join(dl_b, "doc_id")
        .join(dl_a, "doc_id", "left")
        .withColumn("dl_a", F.coalesce("dl_a", F.lit(0)))
        .join(F.broadcast(df_any), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("tfn", tfn)
        .withColumn(
            "s",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * F.col("tfn")
            / (F.lit(K1) + F.col("tfn")),
        )
    )
    per_doc = (
        sc.groupBy("doc_id")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0)
                ).alias(f"s{i}")
                for i, t in enumerate(terms)
            ]
        )
        .withColumn("score", F.col("s0") + F.col("s1"))
    )
    pool = per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(BM25F_K)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        pool.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", F.col("score").alias("bm25f"))
        .orderBy("rank")
    )


QUERIES["q121_bm25f"] = q121_bm25f

_BM25F_IN = ", ".join(f"'{t}'" for t in BM25F_TERMS)

ORACLE["q121_bm25f"] = f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*) AS n_docs FROM documents),
links AS (
  SELECT d.doc_id AS src_id, j.j,
         (d.doc_id * 7 + j.j * 13) % n.n_docs AS dst_id,
         list_slice(list_filter(string_split(d.text, ' '), x -> x <> ''),
                    j.j, j.j + {ANCHOR_WORDS - 1}) AS anchor
  FROM documents d
  CROSS JOIN n
  CROSS JOIN (VALUES {", ".join(f"({k})" for k in range(1, ANCHOR_FANOUT + 1))}) AS j(j)
),
aocc AS (
  SELECT DISTINCT src_id, j, dst_id, t.term
  FROM links, unnest(links.anchor) AS t(term)
  WHERE src_id <> dst_id
),
afield AS (
  SELECT dst_id, term, count(*) AS n_anchors FROM aocc GROUP BY dst_id, term
),
tfb AS (
  SELECT doc_id, term, count(*) AS tf_b FROM toks
  WHERE term IN ({_BM25F_IN}) GROUP BY doc_id, term
),
dlb AS (SELECT doc_id, count(*) AS dl_b FROM toks GROUP BY doc_id),
tfa AS (
  SELECT dst_id AS doc_id, term, n_anchors AS tf_a FROM afield
  WHERE term IN ({_BM25F_IN})
),
dla AS (
  SELECT dst_id AS doc_id, sum(n_anchors)::BIGINT AS dl_a
  FROM afield GROUP BY dst_id
),
stats AS (
  SELECT (SELECT avg(dl_b) FROM dlb) AS avgdl_b,
         (SELECT sum(n_anchors)::BIGINT FROM afield)::DOUBLE
           / (SELECT n_docs FROM n) AS avgdl_a,
         (SELECT n_docs FROM n) AS n_docs
),
cand AS (
  SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
         coalesce(b.term, a.term) AS term,
         coalesce(b.tf_b, 0) AS tf_b,
         coalesce(a.tf_a, 0) AS tf_a
  FROM tfb b FULL OUTER JOIN tfa a
    ON b.doc_id = a.doc_id AND b.term = a.term
),
dfany AS (SELECT term, count(*) AS df FROM cand GROUP BY term),
scored AS (
  SELECT c.doc_id, c.term, d.df, s.n_docs,
         {BM25F_W_BODY}::DOUBLE * c.tf_b
           / ({1.0 - BM25F_B_BODY} + {BM25F_B_BODY} * b.dl_b / s.avgdl_b)
       + {BM25F_W_ANCHOR}::DOUBLE * c.tf_a
           / ({1.0 - BM25F_B_ANCHOR}
              + {BM25F_B_ANCHOR} * coalesce(l.dl_a, 0) / s.avgdl_a) AS tfn
  FROM cand c
  JOIN dlb b USING (doc_id)
  LEFT JOIN dla l USING (doc_id)
  JOIN dfany d USING (term)
  CROSS JOIN stats s
),
contrib AS (
  SELECT doc_id, term,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * tfn / ({K1} + tfn) AS s
  FROM scored
),
per_doc AS (
  SELECT doc_id,
         coalesce(max(CASE WHEN term = '{BM25F_TERMS[0]}' THEN s END), 0.0)
         + coalesce(max(CASE WHEN term = '{BM25F_TERMS[1]}' THEN s END), 0.0)
           AS score
  FROM contrib GROUP BY doc_id
)
SELECT rank, doc_id, score AS bm25f
FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM per_doc
)
WHERE rank <= {BM25F_K}
ORDER BY rank
"""


# --------------------------------------------------------------------------
# q127: stopword discovery — derive the stoplist FROM the corpus
# instead of shipping one: terms whose document frequency exceeds
# STOPDISC_DF_RATIO of all docs, with their token-mass coverage (the
# share of the whole token stream a WAND/stop-list/tiered-index
# decision about this term affects — exactly how the engine's
# stop-shingle caps in q83 and the salting threshold in the indexer
# pick their hot keys). The gate compares exact integers (df·den >=
# n_docs·num), never a float threshold.
#
# Scale shape: one token pass to the (term) hash agg (map-side
# combinable), corpus scalars as 1-row broadcasts; the qualifying set
# is by definition tiny (high-df terms), so the final sort is over a
# handful of rows.
# --------------------------------------------------------------------------

STOPDISC_DF_RATIO = (2, 5)  # df / n_docs >= 2/5


def q127_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens(spark, sf_dir)
    n_row = load_docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    tot_row = toks.agg(F.count("*").alias("n_tokens"))
    num, den = STOPDISC_DF_RATIO
    wc = toks.groupBy("term").agg(
        F.count("*").alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return (
        wc.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(tot_row))
        .filter(F.col("df") * den >= F.col("n_docs") * num)
        .select(
            "term",
            "df",
            "cf",
            (F.col("df").cast("double") / F.col("n_docs")).alias("df_ratio"),
            (F.col("cf").cast("double") / F.col("n_tokens")).alias(
                "coverage"
            ),
        )
        .orderBy(F.desc("cf"), F.asc("term"))
    )


QUERIES["q127_stopword_discovery"] = q127_stopword_discovery

ORACLE["q127_stopword_discovery"] = f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*) AS n_docs FROM documents),
tot AS (SELECT count(*) AS n_tokens FROM toks),
wc AS (
  SELECT term, count(*) AS cf, count(DISTINCT doc_id) AS df
  FROM toks GROUP BY term
)
SELECT term, df, cf,
       df::DOUBLE / n.n_docs AS df_ratio,
       cf::DOUBLE / tot.n_tokens AS coverage
FROM wc CROSS JOIN n CROSS JOIN tot
WHERE df * {STOPDISC_DF_RATIO[1]} >= n.n_docs * {STOPDISC_DF_RATIO[0]}
ORDER BY cf DESC, term ASC
"""


# --------------------------------------------------------------------------
# q134: standing-query percolation (inverse search / alerting — the
# Elasticsearch-percolator shape). The engine's normal path routes ONE
# query against a big index; an alerting tier inverts it: a fixed rule
# set of standing queries is matched against every incoming document
# ("which alerts does this doc trigger?"). The rule set here is mined
# deterministically from the corpus itself — the PERC_TOP_TERMS
# highest-df terms (tie-break term ASC, a total order) become the
# singleton rules and every (r_i < r_j) pair becomes an AND rule — so
# the entry needs no external data and both engines derive the
# identical rule table.
#
# Scale shape: the rule-term table is tiny and BROADCAST into one pass
# over the distinct (doc, term) list — m is |docs|·|rule terms| rows at
# worst; AND-pair matching is a per-doc self-join bounded by
# PERC_TOP_TERMS² (constant per doc, never a corpus × rules blow-up);
# two hash aggs collapse to |rules| rows. At 100 TB with a real rule
# set the same plan holds: rules broadcast, matching stays map-side,
# the only shuffle is the |rules|-keyed count. Pure integer outputs —
# no float portability hazards.
# --------------------------------------------------------------------------

PERC_TOP_TERMS = 8


def percolate_rules(docs: DataFrame) -> DataFrame:
    """Mine the deterministic standing-rule member table from a corpus:
    (term, rule_id, term_a, term_b, arity) — one row per (rule, member
    term). Singleton rules are the PERC_TOP_TERMS highest-df terms
    (tie-break term ASC); every (r_i < r_j) pair is an AND rule with
    rule_id = PERC_TOP_TERMS·r_i + r_j. The table is O(top²) rows —
    always broadcastable."""
    dt = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "").distinct()
    df_t = dt.groupBy("term").agg(F.count("*").alias("df"))
    top = df_t.orderBy(F.col("df").desc(), F.col("term").asc()).limit(
        PERC_TOP_TERMS
    )
    w_r = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    ranked = top.withColumn("r", F.row_number().over(w_r)).select(
        "term", "r"
    )
    singles = ranked.select(
        "term",
        F.col("r").cast("long").alias("rule_id"),
        F.col("term").alias("term_a"),
        F.lit("").alias("term_b"),
        F.lit(1).alias("arity"),
    )
    a = ranked.select(F.col("term").alias("ta"), F.col("r").alias("ra"))
    b = ranked.select(F.col("term").alias("tb"), F.col("r").alias("rb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ra") < F.col("rb"))
        .select(
            F.explode(F.array(F.col("ta"), F.col("tb"))).alias("term"),
            (
                F.lit(PERC_TOP_TERMS) * F.col("ra") + F.col("rb")
            ).cast("long").alias("rule_id"),
            F.col("ta").alias("term_a"),
            F.col("tb").alias("term_b"),
            F.lit(2).alias("arity"),
        )
    )
    return singles.unionAll(pairs)


def percolate_alerts(docs: DataFrame, rules: DataFrame) -> DataFrame:
    """(doc_id, term_a, term_b) for every standing rule each document
    satisfies — the per-document alert stream. Rules broadcast; one
    distinct-token pass over the docs; matching never leaves the doc's
    own rows (a doc is row-atomic, which is why the streaming twin is
    exactly batch-equivalent per micro-batch)."""
    dt = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "").distinct()
    m = dt.join(F.broadcast(rules), "term")
    return (
        m.groupBy("doc_id", "rule_id", "term_a", "term_b", "arity")
        .agg(F.count("*").alias("nm"))
        .filter(F.col("nm") == F.col("arity"))
        .select("doc_id", "term_a", "term_b")
    )


def q134_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    rules = percolate_rules(docs)
    return (
        percolate_alerts(docs, rules)
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("term_a", "term_b")
    )


QUERIES["q134_percolate"] = q134_percolate

ORACLE["q134_percolate"] = f"""
WITH {_TOKENS_CTE},
dtoks AS (SELECT DISTINCT doc_id, term FROM toks),
dfs AS (SELECT term, count(*) AS df FROM dtoks GROUP BY term),
top AS (
  SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS r
  FROM dfs ORDER BY df DESC, term ASC LIMIT {PERC_TOP_TERMS}
),
m AS (SELECT t.doc_id, p.term, p.r FROM dtoks t JOIN top p USING (term)),
singles AS (
  SELECT term AS term_a, '' AS term_b, count(*)::BIGINT AS n_docs
  FROM m GROUP BY term
),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS n_docs
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.r < b.r
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT * FROM singles UNION ALL SELECT * FROM pairs
) ORDER BY term_a, term_b
"""


# --------------------------------------------------------------------------
# q138: postings-compression audit — per-term delta-gap + varint size
# estimate, the storage-planning query behind the engine's own
# compressed salted index (indexer.py packs doc-id-sorted posting blobs;
# this entry measures WHY that layout compresses: sorted ids make gaps
# small, and varint bytes grow with log(gap), so bytes/posting is the
# metric that decides block size and salting width before a reindex).
#
# Exactness: gaps are int64 differences over the per-term doc_id order
# (strictly positive — (doc_id, term) is DISTINCT); varint bytes is an
# integer CASE ladder over exact power-of-two thresholds (never a float
# log — log2() at exact powers of two is the classic cross-engine ulp
# trap); the ratio is one IEEE division over exact ints.
#
# Scale shape: one distinct-(doc,term) pass, then a (term)-partitioned
# window ordered by doc_id — the SAME shuffle the postings build pays,
# so the audit costs one index-build map phase. Hot-term skew is real
# at 100 TB and is the very thing the production index range-salts
# (indexer.salt_expr); the audit runs pre-salt to measure it — per-term
# output is |vocab| rows.
# --------------------------------------------------------------------------

# varint (LEB128) byte count thresholds: k bytes encode gaps < 2^(7k)
_VARINT_STEPS = [(k, 1 << (7 * k)) for k in range(1, 9)]


def q138_postings_compression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    dt = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "").distinct()
    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = dt.select(
        "term",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(w),
            F.col("doc_id") + F.lit(1),
        ).cast("long").alias("gap"),
    )
    vb = F.lit(9)
    for k, lim in reversed(_VARINT_STEPS):
        vb = F.when(F.col("gap") < F.lit(lim), F.lit(k)).otherwise(vb)
    per_term = gaps.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum(vb).cast("long").alias("varint_bytes"),
        F.max("gap").cast("long").alias("max_gap"),
    )
    return per_term.select(
        "term",
        "df",
        (F.col("df") * F.lit(8)).cast("long").alias("raw_bytes"),
        "varint_bytes",
        "max_gap",
        (
            F.col("varint_bytes").cast("double")
            / (F.col("df") * F.lit(8)).cast("double")
        ).alias("compress_ratio"),
    ).orderBy("term")


QUERIES["q138_postings_compression"] = q138_postings_compression

_VARINT_CASE_SQL = "CASE " + " ".join(
    f"WHEN gap < {lim} THEN {k}" for k, lim in _VARINT_STEPS
) + " ELSE 9 END"

ORACLE["q138_postings_compression"] = f"""
WITH {_TOKENS_CTE},
dtoks AS (SELECT DISTINCT doc_id, term FROM toks),
gaps AS (
  SELECT term,
         coalesce(doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id),
                  doc_id + 1)::BIGINT AS gap
  FROM dtoks
),
pt AS (
  SELECT term,
         count(*)::BIGINT AS df,
         sum({_VARINT_CASE_SQL})::BIGINT AS varint_bytes,
         max(gap)::BIGINT AS max_gap
  FROM gaps GROUP BY term
)
SELECT term, df, (df * 8)::BIGINT AS raw_bytes, varint_bytes, max_gap,
       CAST(varint_bytes AS DOUBLE) / CAST(df * 8 AS DOUBLE)
         AS compress_ratio
FROM pt ORDER BY term
"""


# --------------------------------------------------------------------------
# q140: champion lists (Manning/Raghavan/Schütze IR §7.1.3; "fancy
# lists" in early Google, impact-ordered tiers in MaxScore systems) —
# the index-side precompute that caps per-term scoring work: for EVERY
# term, the top CHAMP_M docs by that term's BM25 impact, materialized
# at build time so a serving tier can answer cheap queries from the
# champion tier alone and fall back to full postings only when tiers
# run dry. Complements q138 (storage audit) as the serving-side index
# product.
#
# Shape: the same tf/dl/df aggregations the BM25 entries pay (corpus
# scalars as 1-row broadcasts, never a driver job), then ONE
# (term)-partitioned row_number window — per-term lists are posting
# lists, so the window shuffle IS the postings-build shuffle; at 100 TB
# the hot-term partitions are the same ones the production index
# range-salts, and the tier cut (rank ≤ M) makes the OUTPUT constant
# per term. Score expression is q13's exact IEEE tree (identical in
# both engines, 9dp-rounded on both per the q13/q44 precedent);
# the cut uses (impact DESC, doc_id ASC) — a total order.
# --------------------------------------------------------------------------

CHAMP_M = 5  # champion-tier depth per term


def q140_champion_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats_row = dl.agg(F.avg("dl").alias("avgdl")).crossJoin(
        load_docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    hits = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats_row))
        .withColumn(
            "impact",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * F.lit(K1 + 1.0)
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.desc("impact"), F.asc("doc_id")
    )
    return (
        hits.withColumn("tier_rank", F.row_number().over(w))
        .filter(F.col("tier_rank") <= CHAMP_M)
        .select(
            "term",
            "tier_rank",
            "doc_id",
            F.col("tf").cast("long").alias("tf"),
            F.round("impact", 9).alias("impact"),
        )
        .orderBy("term", "tier_rank")
    )


QUERIES["q140_champion_lists"] = q140_champion_lists

ORACLE["q140_champion_lists"] = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
hits AS (
  SELECT tf.term, tf.doc_id, tf.tf,
         ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * ({K1} + 1.0) * tf.tf
           / (tf.tf + {K1} * ((1.0 - {B}) + {B} * dl.dl / ad.avgdl)) AS impact
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term)
  CROSS JOIN n CROSS JOIN ad
)
SELECT term, tier_rank, doc_id, tf::BIGINT AS tf,
       round(impact, 9) AS impact
FROM (
  SELECT term, doc_id, tf, impact,
         row_number() OVER (PARTITION BY term
                            ORDER BY impact DESC, doc_id ASC) AS tier_rank
  FROM hits
)
WHERE tier_rank <= {CHAMP_M}
ORDER BY term, tier_rank
"""


# --------------------------------------------------------------------------
# q166: TextRank keyword extraction (Mihalcea/Tarau EMNLP'04) — the
# graph-based complement to q90's tf-idf keywords: build the
# co-occurrence graph of content words (stopwords dropped, then
# ADJACENT pairs in the filtered sequence), run weighted PageRank,
# read the top terms. Catches hub words that tf-idf misses (terms
# that co-occur with everything score high even at modest frequency).
#
# Determinism: the iteration is q27's EXACT int64 fixed-point recipe
# extended to weights — contribution = (17·u·w) div (20·wsum), one
# integral divide per edge, order-insensitive integer sums at any
# parallelism and bit-identical across engines (the q112 r5 lesson:
# no round()-quantized doubles in iterative state). Overflow bound:
# u·w ≤ (|V|·10¹²)·w_max must stay under 2⁶³ — safe to w_max ~ 10⁵
# at fixture vocab; a web-scale vocab drops PR_SCALE.
#
# Scale shape: the graph build is ONE (term_a, term_b) hash agg over
# adjacent pairs (at 100 TB key on xxhash64 of the pair); each round
# is one equi-join + one per-node int64 sum (q27's plan); the output
# is TakeOrderedAndProject-capped at TR_TOP.
# --------------------------------------------------------------------------

TR_TOP = 100
TR_ITERS = 3
TR_SCALE = 1_000_000_000_000
TR_STOPS = ["the", "a", "of", "and", "to", "in"]  # q22's STOPWORDS


def q166_textrank_keywords(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    tok = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("pos", "term"),
        )
        .filter(~F.col("term").isin(TR_STOPS))
    )
    w_seq = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        tok.withColumn("nxt", F.lead("term").over(w_seq))
        .filter(F.col("nxt").isNotNull() & (F.col("nxt") != F.col("term")))
        .select("term", "nxt")
    )
    e = (
        adj.select(F.col("term").alias("src"), F.col("nxt").alias("dst"))
        .unionAll(
            adj.select(F.col("nxt").alias("src"), F.col("term").alias("dst"))
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    wsum = e.groupBy("src").agg(F.sum("w").cast("long").alias("wsum"))
    ranks = nodes.withColumn("u", F.lit(TR_SCALE).cast("long"))
    base_u = 3 * TR_SCALE // 20  # 0.15 in fixed point
    # not pagerank.power_iteration: that floors once per source, this
    # floors per edge ((17·u·w) div (20·wsum)), which gives other values
    for _ in range(TR_ITERS):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(wsum, "src")
            .select(
                "dst",
                F.expr(f"(17 * u * w) div (20 * wsum)").alias("c"),
            )
        )
        incoming = contrib.groupBy("dst").agg(
            F.sum("c").cast("long").alias("s")
        )
        ranks = (
            nodes.join(incoming, nodes.node == incoming.dst, "left")
            .select(
                "node",
                (F.lit(base_u) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("u"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        ranks.select(
            F.col("node").alias("term"),
            "u",
            (F.col("u").cast("double") / F.lit(float(TR_SCALE))).alias(
                "textrank"
            ),
        )
        .orderBy(F.desc("u"), F.asc("term"))
        .limit(TR_TOP)
    )


QUERIES["q166_textrank_keywords"] = q166_textrank_keywords


def _tr_iter_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT n.node, ({3 * TR_SCALE // 20} + coalesce(s.s, 0))::BIGINT AS u
  FROM trnodes n LEFT JOIN (
    SELECT e.dst, sum((17 * r.u * e.w) // (20 * ws.wsum)) AS s
    FROM tre e JOIN {prev} r ON e.src = r.node
               JOIN trws ws ON e.src = ws.src
    GROUP BY e.dst
  ) s ON n.node = s.dst
)"""


_TR_ITERS_SQL = ",".join(
    _tr_iter_sql(f"t{i}", f"t{i + 1}") for i in range(TR_ITERS)
)

_TR_STOPS_SQL = ", ".join(f"'{s}'" for s in TR_STOPS)

ORACLE["q166_textrank_keywords"] = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
tp AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM d
),
tok AS (
  SELECT doc_id, pos, toks[pos] AS term FROM tp
  WHERE toks[pos] NOT IN ({_TR_STOPS_SQL})
),
adj AS (
  SELECT term, lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM tok
),
adj2 AS (
  SELECT term, nxt FROM adj WHERE nxt IS NOT NULL AND nxt <> term
),
tre AS MATERIALIZED (
  SELECT src, dst, count(*)::BIGINT AS w FROM (
    SELECT term AS src, nxt AS dst FROM adj2
    UNION ALL
    SELECT nxt AS src, term AS dst FROM adj2
  ) GROUP BY src, dst
),
trnodes AS (SELECT DISTINCT src AS node FROM tre),
trws AS (SELECT src, sum(w)::BIGINT AS wsum FROM tre GROUP BY src),
t0 AS (SELECT node, {TR_SCALE}::BIGINT AS u FROM trnodes),
{_TR_ITERS_SQL}
SELECT node AS term, u,
       CAST(u AS DOUBLE) / CAST('1e12' AS DOUBLE) AS textrank
FROM t{TR_ITERS}
ORDER BY u DESC, term ASC
LIMIT {TR_TOP}
"""


# --------------------------------------------------------------------------
# q168: sequential dependence model ranking (Metzler/Croft SIGIR'05) —
# the canonical term-dependence retrieval model: blend the unigram
# query-likelihood (q93's feature) with an ordered-bigram feature
# (#od1: t1 immediately before t2 — q14's phrase evidence) and an
# unordered-window feature (#uw8: both terms within 8 positions —
# q82's proximity evidence), each Dirichlet-smoothed against its own
# collection statistics, at the paper's canonical 0.85/0.10/0.05.
#
# Determinism: every per-doc feature count is an exact int64 (tf, dl,
# od, uw) and every collection statistic rides the plan as a 1-row
# broadcast (q91's idiom, zero driver jobs); the score is ONE fixed-
# arity IEEE tree over those integers — no cross-row float reduction
# anywhere, so no DECIMAL fold is even needed. UNROUNDED.
#
# Scale shape: positional evidence comes from per-doc self-joins over
# the (t1, t2) position lists only — bounded by tf(t1)·tf(t2) per doc
# (at 100 TB these ride the positional postings, q14's machinery);
# candidates = docs containing either term; final = TakeOrdered top-K.
# --------------------------------------------------------------------------

SDM_W = (0.85, 0.10, 0.05)
SDM_UW = 8
SDM_K = 20


def q168_sdm_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1, t2 = PROX_PAIR
    docs = load_docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("pos", "term"),
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    tt = tok.filter(F.col("term").isin([t1, t2]))
    tf = tt.groupBy("doc_id").agg(
        F.sum(F.when(F.col("term") == t1, 1).otherwise(0))
        .cast("long")
        .alias("tf1"),
        F.sum(F.when(F.col("term") == t2, 1).otherwise(0))
        .cast("long")
        .alias("tf2"),
    )
    p1 = tt.filter(F.col("term") == t1).select("doc_id", F.col("pos").alias("pa"))
    p2 = tt.filter(F.col("term") == t2).select("doc_id", F.col("pos").alias("pb"))
    od = (
        p1.join(p2, "doc_id")
        .filter(F.col("pb") == F.col("pa") + 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("od"))
    )
    uw = (
        p1.join(p2, "doc_id")
        .filter(F.abs(F.col("pa") - F.col("pb")) <= SDM_UW)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("uw"))
    )
    totals = (
        dl.agg(
            F.sum("dl").cast("long").alias("total_c"),
            F.sum(F.greatest(F.col("dl") - 1, F.lit(0)))
            .cast("long")
            .alias("big_total"),
        )
        .crossJoin(
            tf.agg(
                F.sum("tf1").cast("long").alias("cf1"),
                F.sum("tf2").cast("long").alias("cf2"),
            )
        )
        .crossJoin(od.agg(F.sum("od").cast("long").alias("od_cf")))
        .crossJoin(uw.agg(F.sum("uw").cast("long").alias("uw_cf")))
    )
    grid = (
        tf.join(dl, "doc_id")
        .join(od, "doc_id", "left")
        .join(uw, "doc_id", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("od0", F.coalesce(F.col("od"), F.lit(0)))
        .withColumn("uw0", F.coalesce(F.col("uw"), F.lit(0)))
    )
    mu = F.lit(QL_MU)
    dld = F.col("dl").cast("double")

    def dir_log(tf_col, cf_col, total_col, len_col):
        return F.log(
            (
                tf_col.cast("double")
                + mu * cf_col.cast("double") / total_col.cast("double")
            )
            / (len_col + mu)
        )

    f_t = dir_log(F.col("tf1"), F.col("cf1"), F.col("total_c"), dld) + dir_log(
        F.col("tf2"), F.col("cf2"), F.col("total_c"), dld
    )
    f_o = dir_log(
        F.col("od0"),
        F.col("od_cf"),
        F.col("big_total"),
        dld - F.lit(1.0),
    )
    f_u = dir_log(F.col("uw0"), F.col("uw_cf"), F.col("total_c"), dld)
    score = (
        F.lit(SDM_W[0]) * f_t + F.lit(SDM_W[1]) * f_o + F.lit(SDM_W[2]) * f_u
    )
    w = Window.orderBy(F.desc("sdm"), F.asc("doc_id"))
    return (
        grid.select("doc_id", score.alias("sdm"))
        .orderBy(F.desc("sdm"), F.asc("doc_id"))
        .limit(SDM_K)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "sdm")
        .orderBy("rank")
    )


QUERIES["q168_sdm_rank"] = q168_sdm_rank

ORACLE["q168_sdm_rank"] = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
tp AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM d
),
tt AS (SELECT doc_id, pos, toks[pos] AS term FROM tp),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tt GROUP BY doc_id),
tf AS (
  SELECT doc_id,
         sum(CASE WHEN term = '{PROX_PAIR[0]}' THEN 1 ELSE 0 END)::BIGINT
           AS tf1,
         sum(CASE WHEN term = '{PROX_PAIR[1]}' THEN 1 ELSE 0 END)::BIGINT
           AS tf2
  FROM tt WHERE term IN ('{PROX_PAIR[0]}', '{PROX_PAIR[1]}')
  GROUP BY doc_id
),
p1 AS (SELECT doc_id, pos AS pa FROM tt WHERE term = '{PROX_PAIR[0]}'),
p2 AS (SELECT doc_id, pos AS pb FROM tt WHERE term = '{PROX_PAIR[1]}'),
od AS (
  SELECT p1.doc_id, count(*)::BIGINT AS od
  FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND p2.pb = p1.pa + 1
  GROUP BY p1.doc_id
),
uw AS (
  SELECT p1.doc_id, count(*)::BIGINT AS uw
  FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
                 AND abs(p1.pa - p2.pb) <= {SDM_UW}
  GROUP BY p1.doc_id
),
tot AS (
  SELECT (SELECT sum(dl) FROM dl)::BIGINT AS total_c,
         (SELECT sum(CASE WHEN dl > 1 THEN dl - 1 ELSE 0 END)
          FROM dl)::BIGINT AS big_total,
         (SELECT sum(tf1) FROM tf)::BIGINT AS cf1,
         (SELECT sum(tf2) FROM tf)::BIGINT AS cf2,
         (SELECT COALESCE(sum(od), 0) FROM od)::BIGINT AS od_cf,
         (SELECT COALESCE(sum(uw), 0) FROM uw)::BIGINT AS uw_cf
),
grid AS (
  SELECT tf.doc_id, tf.tf1, tf.tf2, dl.dl,
         COALESCE(od.od, 0)::BIGINT AS od0,
         COALESCE(uw.uw, 0)::BIGINT AS uw0,
         tot.*
  FROM tf JOIN dl USING (doc_id)
          LEFT JOIN od USING (doc_id)
          LEFT JOIN uw USING (doc_id), tot
),
scored AS (
  SELECT doc_id,
         {SDM_W[0]!r}::DOUBLE * (
           ln((CAST(tf1 AS DOUBLE)
               + {QL_MU!r}::DOUBLE * CAST(cf1 AS DOUBLE)
                 / CAST(total_c AS DOUBLE))
              / (CAST(dl AS DOUBLE) + {QL_MU!r}::DOUBLE))
           + ln((CAST(tf2 AS DOUBLE)
                 + {QL_MU!r}::DOUBLE * CAST(cf2 AS DOUBLE)
                   / CAST(total_c AS DOUBLE))
                / (CAST(dl AS DOUBLE) + {QL_MU!r}::DOUBLE)))
         + {SDM_W[1]!r}::DOUBLE *
           ln((CAST(od0 AS DOUBLE)
               + {QL_MU!r}::DOUBLE * CAST(od_cf AS DOUBLE)
                 / CAST(big_total AS DOUBLE))
              / (CAST(dl AS DOUBLE) - 1.0::DOUBLE + {QL_MU!r}::DOUBLE))
         + {SDM_W[2]!r}::DOUBLE *
           ln((CAST(uw0 AS DOUBLE)
               + {QL_MU!r}::DOUBLE * CAST(uw_cf AS DOUBLE)
                 / CAST(total_c AS DOUBLE))
              / (CAST(dl AS DOUBLE) + {QL_MU!r}::DOUBLE))
           AS sdm
  FROM grid
)
SELECT row_number() OVER (ORDER BY sdm DESC, doc_id ASC)::INT AS rank,
       doc_id, sdm
FROM scored
ORDER BY sdm DESC, doc_id ASC
LIMIT {SDM_K}
"""


# --------------------------------------------------------------------------
# q174: balanced interleaving of two rankers (Joachims KDD'02; the
# online-eval primitive — serve a merged list from ranker A and
# ranker B, credit clicks by team, and you get a paired preference
# test at a fraction of an A/B test's sample cost). Rankers here:
# A = disjunctive BM25 (q13's per-term scores summed per doc),
# B = Dirichlet query likelihood (q93's score) — same candidate set
# (docs matching ≥1 query term), so both ranks are total.
#
# Balanced interleave, A-first (deterministic): the pre-dedup pick
# sequence is A1 B1 A2 B2 …, and a doc's first appearance is at
# key = min(2·rank_A − 1, 2·rank_B) — odd keys are A-picks, even are
# B-picks (parity IS the team label; ties impossible by parity). The
# interleaved position is one rank over that key: the whole
# "sequential" procedure collapses to a closed form, which is what
# makes it a two-window Spark plan instead of a driver loop.
#
# Scale shape: two DECIMAL-folded per-doc scores over the candidate
# set, two rank windows, one map-only key expression, one TakeOrdered
# top-K. Collection stats ride as 1-row broadcasts (q91's idiom).
# --------------------------------------------------------------------------

INTER_K = 20


def q174_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats_row = dl.agg(F.avg("dl").alias("avgdl")).crossJoin(
        load_docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    )
    total_row = toks.agg(F.count("*").cast("double").alias("total_c"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    tf_q = tf.filter(F.col("term").isin(BM25_QUERY_TERMS))
    cf = tf_q.groupBy("term").agg(F.sum("tf").alias("cf"))
    cand = tf_q.select("doc_id").distinct()

    bm25_doc = (
        tf_q.join(dl, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats_row))
        .withColumn(
            "s",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            )
            * F.lit(K1 + 1.0)
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(K1)
                * (
                    F.lit(1.0 - B)
                    + F.lit(B) * F.col("dl") / F.col("avgdl")
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("s").cast("decimal(28,12)"))
            .cast("double")
            .alias("score_a")
        )
    )
    grid = (
        cand.join(dl, "doc_id")
        .crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(total_row))
    )
    ql_doc = (
        grid.join(tf_q, ["doc_id", "term"], "left")
        .withColumn("tf0", F.coalesce(F.col("tf"), F.lit(0)))
        .withColumn(
            "s",
            F.log(
                (
                    F.col("tf0")
                    + F.lit(QL_MU) * F.col("cf") / F.col("total_c")
                )
                / (F.col("dl") + F.lit(QL_MU))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("s").cast("decimal(28,12)"))
            .cast("double")
            .alias("score_b")
        )
    )
    ranked = (
        bm25_doc.join(ql_doc, "doc_id")
        .withColumn(
            "rank_a",
            F.row_number().over(
                Window.orderBy(F.desc("score_a"), F.asc("doc_id"))
            ),
        )
        .withColumn(
            "rank_b",
            F.row_number().over(
                Window.orderBy(F.desc("score_b"), F.asc("doc_id"))
            ),
        )
    )
    key = F.least(
        F.lit(2) * F.col("rank_a") - F.lit(1), F.lit(2) * F.col("rank_b")
    )
    w = Window.orderBy("key")
    return (
        ranked.withColumn("key", key.cast("long"))
        .withColumn("position", F.row_number().over(w))
        .filter(F.col("position") <= INTER_K)
        .select(
            "position",
            "doc_id",
            F.when(F.col("key") % 2 == 1, "A")
            .otherwise("B")
            .alias("team"),
            "rank_a",
            "rank_b",
        )
        .orderBy("position")
    )


QUERIES["q174_interleave"] = q174_interleave

_Q174_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

ORACLE["q174_interleave"] = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
tot AS (SELECT count(*)::DOUBLE AS total FROM toks),
tfq AS (SELECT * FROM tf WHERE term IN ({_Q174_TERMS})),
cf AS (SELECT term, sum(tf) AS cf FROM tfq GROUP BY term),
cand AS (SELECT DISTINCT doc_id FROM tfq),
bma AS (
  SELECT tfq.doc_id,
         sum(CAST(ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                  * (1.2 + 1.0) * tfq.tf
                  / (tfq.tf + 1.2 * ((1.0 - 0.75)
                                     + 0.75 * dl.dl / ad.avgdl))
                  AS DECIMAL(28,12)))::DOUBLE AS score_a
  FROM tfq JOIN dl USING (doc_id) JOIN dft ON tfq.term = dft.term
  CROSS JOIN n CROSS JOIN ad
  GROUP BY tfq.doc_id
),
grid AS (
  SELECT cand.doc_id, dl.dl, cf.term, cf.cf
  FROM cand JOIN dl USING (doc_id) CROSS JOIN cf
),
qlb AS (
  SELECT g.doc_id,
         sum(CAST(ln((coalesce(t.tf, 0)
                      + {QL_MU}::DOUBLE * g.cf / (SELECT total FROM tot))
                     / (g.dl + {QL_MU}::DOUBLE))
                  AS DECIMAL(28,12)))::DOUBLE AS score_b
  FROM grid g LEFT JOIN tfq t ON g.doc_id = t.doc_id AND g.term = t.term
  GROUP BY g.doc_id
),
ranked AS (
  SELECT b.doc_id,
         row_number() OVER (ORDER BY b.score_a DESC, b.doc_id ASC)
           AS rank_a,
         row_number() OVER (ORDER BY q.score_b DESC, q.doc_id ASC)
           AS rank_b
  FROM bma b JOIN qlb q ON b.doc_id = q.doc_id
),
keyed AS (
  SELECT doc_id, rank_a, rank_b,
         least(2 * rank_a - 1, 2 * rank_b)::BIGINT AS key
  FROM ranked
)
SELECT row_number() OVER (ORDER BY key)::INT AS position,
       doc_id,
       CASE WHEN key % 2 = 1 THEN 'A' ELSE 'B' END AS team,
       rank_a::INT AS rank_a, rank_b::INT AS rank_b
FROM keyed
ORDER BY key
LIMIT {INTER_K}
"""


# --------------------------------------------------------------------------
# q186: impact-ordering early-termination audit — the measurement
# behind impact-ordered/score-at-a-time indexes (Anh/Moffat) and the
# sibling of the WAND block-max story the serving tier ships: per
# query term, if postings were stored by descending BM25 impact, what
# share of the term's total score mass do the first 10% / 25% / 50%
# of postings carry? Mass concentrated at the head = anytime ranking
# can stop early with bounded loss; flat mass = impact ordering buys
# nothing for that term.
#
# Determinism: per-posting scores are q13's exact BM25 tree; the
# cumulative shares quantize each score to int64 at IMP_QUANT
# (floor(score·10⁹) — one identical multiply+floor) so running sums
# and the total are order-insensitive integer arithmetic; published
# shares are single IEEE divisions. Scale shape: one rank window per
# term (bounded by df), three threshold probes read off the SAME
# window pass via conditional aggs — no second sort.
# --------------------------------------------------------------------------

IMP_QUANT = 1_000_000_000
IMP_DEPTHS = (10, 25, 50)  # percent of postings


def q186_impact_ordering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hits = bm25_hits(spark, sf_dir).withColumn(
        "su",
        F.floor(F.col("score") * F.lit(float(IMP_QUANT))).cast("long"),
    )
    w = Window.partitionBy("term").orderBy(
        F.desc("su"), F.asc("doc_id")
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        hits.withColumn("r", F.row_number().over(w))
        .withColumn("cum_u", F.sum("su").over(wcum).cast("long"))
    )
    n_df = ranked.groupBy("term").agg(
        F.count("*").cast("long").alias("df_n"),
        F.sum("su").cast("long").alias("total_u"),
    )
    j = ranked.drop("df").join(F.broadcast(n_df), "term")
    aggs = [
        F.max(
            F.when(
                F.col("r")
                == F.greatest(
                    F.expr(f"(df_n * {p}) div 100"), F.lit(1)
                ),
                F.col("cum_u"),
            )
        ).alias(f"mass_{p}_u")
        for p in IMP_DEPTHS
    ]
    g = j.groupBy("term").agg(
        F.max("df_n").cast("long").alias("df"),
        F.max("total_u").cast("long").alias("total_u"),
        *aggs,
    )
    share_cols = [
        (
            F.col(f"mass_{p}_u").cast("double")
            / F.col("total_u").cast("double")
        ).alias(f"share_{p}")
        for p in IMP_DEPTHS
    ]
    return g.select("term", "df", "total_u", *share_cols).orderBy("term")


QUERIES["q186_impact_ordering"] = q186_impact_ordering

_IMP_SHARES = ", ".join(
    f"""CAST(max(CASE WHEN r = GREATEST((df * {p}) // 100, 1)
                      THEN cum_u END) AS DOUBLE)
         / CAST(max(total_u) AS DOUBLE) AS share_{p}"""
    for p in IMP_DEPTHS
)

ORACLE["q186_impact_ordering"] = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
hits AS (
  SELECT tf.term, tf.doc_id,
         CAST(floor(ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                    * (1.2 + 1.0) * tf.tf
                    / (tf.tf + 1.2 * ((1.0 - 0.75)
                                      + 0.75 * dl.dl / ad.avgdl))
                    * {float(IMP_QUANT)!r}::DOUBLE) AS BIGINT) AS su
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term)
  CROSS JOIN n CROSS JOIN ad
  WHERE tf.term IN ('{BM25_QUERY_TERMS[0]}', '{BM25_QUERY_TERMS[1]}',
                    '{BM25_QUERY_TERMS[2]}')
),
ranked AS (
  SELECT term, doc_id, su,
         row_number() OVER w AS r,
         sum(su) OVER (PARTITION BY term ORDER BY su DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      )::BIGINT AS cum_u
  FROM hits
  WINDOW w AS (PARTITION BY term ORDER BY su DESC, doc_id ASC)
),
tot AS (
  SELECT term, count(*)::BIGINT AS df, sum(su)::BIGINT AS total_u
  FROM ranked GROUP BY term
),
j AS (SELECT r.*, t.df, t.total_u FROM ranked r JOIN tot t USING (term))
SELECT term, max(df)::BIGINT AS df, max(total_u)::BIGINT AS total_u,
       {_IMP_SHARES}
FROM j GROUP BY term ORDER BY term
"""


# --------------------------------------------------------------------------
# q194: BM25 parameter-sensitivity audit — before anyone "tunes k1/b"
# they should know whether the ranking even moves: for a grid of
# (k1, b) settings, the top-K overlap (Jaccard) and the rank
# displacement of the default top-K versus each candidate setting.
# Stable top-K across the grid = tuning is a no-op for this corpus;
# low overlap = the parameter actually matters and an eval is worth
# running. This is the audit the serving team runs BEFORE an A/B.
#
# Determinism: per-setting scores are q13's exact BM25 tree with the
# grid constants as literals; rankings use (score DESC, doc_id ASC)
# total orders; overlap/displacement are exact integer counts off a
# self-join of the two top-K sets. Scale shape: the scored candidate
# set is computed ONCE per setting from the same tf/dl frame (one
# scan, grid of map-only score columns), top-K via per-setting rank
# windows, and the audit joins K-row sets.
# --------------------------------------------------------------------------

SENS_GRID = [(0.6, 0.5), (1.2, 0.75), (2.0, 0.9)]  # (k1, b); mid = default
SENS_K = 20


def q194_bm25_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    toks = tokens(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats_row = dl.agg(F.avg("dl").alias("avgdl")).crossJoin(
        load_docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    base = (
        tf.filter(F.col("term").isin(BM25_QUERY_TERMS))
        .join(dl, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats_row))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )

    def doc_scores(k1: float, b: float) -> DataFrame:
        s = (
            idf
            * F.lit(k1 + 1.0)
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl") / F.col("avgdl")
                )
            )
        )
        return base.withColumn("s", s).groupBy("doc_id").agg(
            F.sum(F.col("s").cast("decimal(28,12)"))
            .cast("double")
            .alias("score")
        )

    def topk(k1: float, b: float) -> DataFrame:
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            doc_scores(k1, b)
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= SENS_K)
            .select("doc_id", "r")
        )

    dk1, dbb = SENS_GRID[1]
    default = topk(dk1, dbb)
    outs = []
    for k1, b in SENS_GRID:
        cand = topk(k1, b).select(
            F.col("doc_id"), F.col("r").alias("r_cand")
        )
        j = default.join(cand, "doc_id", "inner")
        agg = j.groupBy().agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(F.abs(F.col("r") - F.col("r_cand")))
            .cast("long")
            .alias("disp_sum"),
        )
        outs.append(
            agg.select(
                F.lit(k1).alias("k1"),
                F.lit(b).alias("b"),
                "n_common",
                (
                    F.col("n_common").cast("double")
                    / F.lit(float(2 * SENS_K))
                    / (
                        F.lit(1.0)
                        - F.col("n_common").cast("double")
                        / F.lit(float(2 * SENS_K))
                    )
                ).alias("jaccard_topk"),
                "disp_sum",
            )
        )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    return u.orderBy("k1", "b")


QUERIES["q194_bm25_sensitivity"] = q194_bm25_sensitivity

_SENS_SCORE = """
  SELECT tfq.doc_id,
         sum(CAST(ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                  * ({k1} + 1.0) * tfq.tf
                  / (tfq.tf + {k1} * ((1.0 - {b})
                                      + {b} * dl.dl / ad.avgdl))
                  AS DECIMAL(28,12)))::DOUBLE AS score
  FROM tfq JOIN dl USING (doc_id) JOIN dft ON tfq.term = dft.term
  CROSS JOIN n CROSS JOIN ad
  GROUP BY tfq.doc_id
"""

_SENS_TOPK = """
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM ({score})
  QUALIFY r <= {k}
"""


def _sens_leg(k1: float, b: float) -> str:
    cand = _SENS_TOPK.format(
        score=_SENS_SCORE.format(k1=repr(k1), b=repr(b)), k=SENS_K
    )
    return f"""
SELECT {k1!r}::DOUBLE AS k1, {b!r}::DOUBLE AS b,
       count(*)::BIGINT AS n_common,
       (CAST(count(*) AS DOUBLE) / {float(2 * SENS_K)!r}::DOUBLE)
         / (1.0::DOUBLE - CAST(count(*) AS DOUBLE)
                          / {float(2 * SENS_K)!r}::DOUBLE)
         AS jaccard_topk,
       sum(abs(d.r - c.r))::BIGINT AS disp_sum
FROM dflt d JOIN ({cand}) c USING (doc_id)
"""


ORACLE["q194_bm25_sensitivity"] = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
tfq AS (SELECT * FROM tf
        WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)})),
dflt AS ({_SENS_TOPK.format(
    score=_SENS_SCORE.format(
        k1=repr(SENS_GRID[1][0]), b=repr(SENS_GRID[1][1])
    ),
    k=SENS_K,
)})
{" UNION ALL ".join(_sens_leg(k1, b) for k1, b in SENS_GRID)}
ORDER BY k1, b
"""


# --------------------------------------------------------------------------
# q198: rank-biased overlap between the BM25 and QL rankings (Webber
# et al. TOIS'10) — the top-weighted list-similarity metric that
# fixes what q194's flat Jaccard cannot see: two lists agreeing at
# ranks 1–5 and disagreeing at 15–20 should score far higher than
# the reverse. RBO(p) = (1−p)·Σ_d p^{d−1}·X_d/d with X_d the prefix
# overlap at depth d; truncated at RBO_K (the RBO_min convention,
# no residual — documented).
#
# Determinism: X_d is exact — a doc enters the overlap at depth
# max(rank_a, rank_b), so X_d is ONE cumulative integer count over a
# literal 1..K depth table; the depth weights (1−p)p^{d−1}/d are
# PYTHON-LITERAL doubles (the q172 rule: pow at build time, never at
# run time), and Σ w_d·X_d folds as DECIMAL(28,12) partials of
# identical per-depth IEEE products. Scale shape: q174's two scored
# rankings + a K-row join — constant beyond the scoring.
# --------------------------------------------------------------------------

RBO_P = 0.9
RBO_K = 20
_RBO_W = [
    (1 - RBO_P) * RBO_P ** (d - 1) / d for d in range(1, RBO_K + 1)
]


def q198_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats_row = dl.agg(F.avg("dl").alias("avgdl")).crossJoin(
        load_docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    )
    total_row = toks.agg(F.count("*").cast("double").alias("total_c"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    tf_q = tf.filter(F.col("term").isin(BM25_QUERY_TERMS))
    cf = tf_q.groupBy("term").agg(F.sum("tf").alias("cf"))
    cand = tf_q.select("doc_id").distinct()
    bm25_doc = (
        tf_q.join(dl, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats_row))
        .withColumn(
            "s",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            )
            * F.lit(K1 + 1.0)
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("s").cast("decimal(28,12)"))
            .cast("double")
            .alias("score_a")
        )
    )
    grid = (
        cand.join(dl, "doc_id")
        .crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(total_row))
    )
    ql_doc = (
        grid.join(tf_q, ["doc_id", "term"], "left")
        .withColumn("tf0", F.coalesce(F.col("tf"), F.lit(0)))
        .withColumn(
            "s",
            F.log(
                (
                    F.col("tf0")
                    + F.lit(QL_MU) * F.col("cf") / F.col("total_c")
                )
                / (F.col("dl") + F.lit(QL_MU))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("s").cast("decimal(28,12)"))
            .cast("double")
            .alias("score_b")
        )
    )
    ranked = (
        bm25_doc.join(ql_doc, "doc_id")
        .withColumn(
            "ra",
            F.row_number().over(
                Window.orderBy(F.desc("score_a"), F.asc("doc_id"))
            ),
        )
        .withColumn(
            "rb",
            F.row_number().over(
                Window.orderBy(F.desc("score_b"), F.asc("doc_id"))
            ),
        )
    )
    entry = (
        ranked.filter((F.col("ra") <= RBO_K) & (F.col("rb") <= RBO_K))
        .select(F.greatest("ra", "rb").alias("m"))
        .groupBy("m")
        .agg(F.count("*").cast("long").alias("c"))
    )
    depths = spark.createDataFrame(
        [(d, _RBO_W[d - 1]) for d in range(1, RBO_K + 1)],
        "d int, w double",
    )
    wcum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    xd = (
        depths.join(entry, depths.d == entry.m, "left")
        .withColumn(
            "x_d",
            F.sum(F.coalesce(F.col("c"), F.lit(0)))
            .over(wcum)
            .cast("long"),
        )
        .withColumn(
            "contrib",
            (F.col("w") * F.col("x_d").cast("double")).cast(
                "decimal(28,12)"
            ),
        )
    )
    return xd.groupBy().agg(
        F.lit(RBO_K).cast("int").alias("k"),
        F.lit(RBO_P).alias("p"),
        F.max(F.when(F.col("d") == RBO_K, F.col("x_d")))
        .cast("long")
        .alias("overlap_at_k"),
        F.sum("contrib").cast("double").alias("rbo_min"),
    )


QUERIES["q198_rbo"] = q198_rbo

_RBO_W_SQL = ", ".join(
    f"({d}, {w!r}::DOUBLE)" for d, w in enumerate(_RBO_W, 1)
)

ORACLE["q198_rbo"] = f"""
WITH {{prefix}},
entry AS (
  SELECT GREATEST(rank_a, rank_b) AS m, count(*)::BIGINT AS c
  FROM ranked
  WHERE rank_a <= {RBO_K} AND rank_b <= {RBO_K}
  GROUP BY m
),
depths(d, w) AS (VALUES {_RBO_W_SQL}),
xd AS (
  SELECT d.d, d.w,
         sum(COALESCE(e.c, 0)) OVER (ORDER BY d.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS x_d
  FROM depths d LEFT JOIN entry e ON d.d = e.m
)
SELECT {RBO_K}::INT AS k, {RBO_P!r}::DOUBLE AS p,
       max(CASE WHEN d = {RBO_K} THEN x_d END)::BIGINT AS overlap_at_k,
       CAST(sum(CAST(w * CAST(x_d AS DOUBLE) AS DECIMAL(28,12)))
            AS DOUBLE) AS rbo_min
FROM xd
"""

# reuse q174's scoring-CTE prefix up to `ranked` so the two entries
# cannot drift (the q183 pattern)
_Q174_SQL = ORACLE["q174_interleave"]
_RBO_PREFIX = _Q174_SQL[
    _Q174_SQL.index("WITH ") + 5 : _Q174_SQL.index("keyed AS")
].rstrip().rstrip(",")
ORACLE["q198_rbo"] = ORACLE["q198_rbo"].format(prefix=_RBO_PREFIX)


# --------------------------------------------------------------------------
# q199: stopword-list stability between corpus halves — the feature-
# stability audit for q127's discovered list: a stopword list is
# pipeline INFRASTRUCTURE (q22/q161/q166 all consume one), so before
# refreshing it from a new crawl you check that the discovery rule
# yields the same set on independent halves; low agreement means the
# df-ratio threshold rides sampling noise and must not auto-deploy.
# Same rule as q127 (df·den ≥ n_docs·num), evaluated per half, set
# agreement as exact integer counts + Jaccard.
#
# Scale shape: ONE (term, half) agg with conditional partials, two
# 1-row half-size broadcasts, a vocab-sized membership expression,
# 1-row census. All exact int64; Jaccard one IEEE division.
# --------------------------------------------------------------------------


def q199_stopword_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    num, den = STOPDISC_DF_RATIO
    docs = load_docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).cast("int").alias("half"),
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("term"),
    )
    df_h = toks.groupBy("term").agg(
        F.countDistinct(
            F.when(F.col("half") == 1, F.col("doc_id"))
        ).cast("long").alias("df_a"),
        F.countDistinct(
            F.when(F.col("half") == 0, F.col("doc_id"))
        ).cast("long").alias("df_b"),
    )
    halves = F.broadcast(
        docs.groupBy().agg(
            F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("doc_id") % 2 != 0, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
    )
    j = df_h.crossJoin(halves).withColumn(
        "in_a",
        (F.col("df_a") * den >= F.col("n_a") * num).cast("int"),
    ).withColumn(
        "in_b",
        (F.col("df_b") * den >= F.col("n_b") * num).cast("int"),
    )
    g = j.groupBy().agg(
        F.sum("in_a").cast("long").alias("n_stop_a"),
        F.sum("in_b").cast("long").alias("n_stop_b"),
        F.sum(F.col("in_a") * F.col("in_b"))
        .cast("long")
        .alias("n_common"),
    )
    union = (
        F.col("n_stop_a") + F.col("n_stop_b") - F.col("n_common")
    ).cast("long")
    return g.select(
        "n_stop_a",
        "n_stop_b",
        "n_common",
        union.alias("n_union"),
        F.when(
            union > 0,
            F.col("n_common").cast("double") / union.cast("double"),
        ).alias("jaccard"),
    )


QUERIES["q199_stopword_stability"] = q199_stopword_stability

ORACLE["q199_stopword_stability"] = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS half,
         w AS term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
df_h AS (
  SELECT term,
         count(DISTINCT CASE WHEN half = 1 THEN doc_id END)::BIGINT
           AS df_a,
         count(DISTINCT CASE WHEN half = 0 THEN doc_id END)::BIGINT
           AS df_b
  FROM toks GROUP BY term
),
halves AS (
  SELECT sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_b
  FROM documents
),
j AS (
  SELECT CASE WHEN df_a * {STOPDISC_DF_RATIO[1]}
                   >= n_a * {STOPDISC_DF_RATIO[0]} THEN 1 ELSE 0 END
           AS in_a,
         CASE WHEN df_b * {STOPDISC_DF_RATIO[1]}
                   >= n_b * {STOPDISC_DF_RATIO[0]} THEN 1 ELSE 0 END
           AS in_b
  FROM df_h, halves
),
g AS (
  SELECT sum(in_a)::BIGINT AS n_stop_a,
         sum(in_b)::BIGINT AS n_stop_b,
         sum(in_a * in_b)::BIGINT AS n_common
  FROM j
)
SELECT n_stop_a, n_stop_b, n_common,
       (n_stop_a + n_stop_b - n_common)::BIGINT AS n_union,
       CASE WHEN n_stop_a + n_stop_b - n_common > 0
            THEN CAST(n_common AS DOUBLE)
                 / CAST(n_stop_a + n_stop_b - n_common AS DOUBLE)
            ELSE NULL END AS jaccard
FROM g
"""


# --------------------------------------------------------------------------
# q203: zero-results audit — the serving-health number a search team
# tracks weekly: over every 2-term conjunctive query the vocabulary
# can form, how many return NOTHING? (Zero-result rate drives both
# recall work and the q84/q78 fallback policies — expansion and
# spell-correct exist to drain exactly this bucket.) Plus the co-df
# distribution median so "how thin are the non-empty ones" rides
# along.
#
# Determinism: all counts exact int64 — pair co-df from ONE
# presence self-join on doc_id (never a cartesian over the vocab),
# possible pairs = V(V−1)/2 closed form, the median an exact rank
# probe (q177's idiom). Scale shape: the self-join is bounded by
# per-doc distinct-term counts (Σ tpd² over docs), the classic
# co-occurrence bound; the audit result is a 1-row dashboard scalar.
# --------------------------------------------------------------------------


def q203_zero_results_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pres = (
        tokens(spark, sf_dir)
        .select("doc_id", "term")
        .distinct()
    )
    a = pres.select("doc_id", F.col("term").alias("ta"))
    b = pres.select("doc_id", F.col("term").alias("tb"))
    pair_df = (
        a.join(b, "doc_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").cast("long").alias("co_df"))
    )
    vocab = F.broadcast(
        pres.agg(F.countDistinct("term").cast("long").alias("v"))
    )
    w = Window.orderBy("co_df", "ta", "tb")
    nz = F.broadcast(
        pair_df.groupBy().agg(
            F.count("*").cast("long").alias("n_nonzero")
        )
    )
    med = F.broadcast(
        pair_df.withColumn("r", F.row_number().over(w))
        .crossJoin(nz)
        .filter(F.col("r") == F.expr("(n_nonzero + 1) div 2"))
        .select(F.col("co_df").alias("p50_co_df"))
    )
    possible = (F.col("v") * (F.col("v") - 1) / 2).cast("long")
    return (
        vocab.crossJoin(nz)
        .crossJoin(med)
        .select(
            F.col("v").alias("n_terms"),
            possible.alias("n_pairs_possible"),
            "n_nonzero",
            (possible - F.col("n_nonzero")).cast("long").alias(
                "n_zero_result"
            ),
            (
                (possible - F.col("n_nonzero")).cast("double")
                / possible.cast("double")
            ).alias("zero_rate"),
            "p50_co_df",
        )
    )


QUERIES["q203_zero_results_audit"] = q203_zero_results_audit

ORACLE["q203_zero_results_audit"] = """
WITH pres AS (
  SELECT DISTINCT doc_id, w AS term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
pair_df AS (
  SELECT a.term AS ta, b.term AS tb, count(*)::BIGINT AS co_df
  FROM pres a JOIN pres b
    ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
),
vocab AS (SELECT count(DISTINCT term)::BIGINT AS v FROM pres),
nz AS (SELECT count(*)::BIGINT AS n_nonzero FROM pair_df),
med AS (
  SELECT co_df AS p50_co_df FROM (
    SELECT co_df, row_number() OVER (ORDER BY co_df, ta, tb) AS r
    FROM pair_df
  ), nz WHERE r = (n_nonzero + 1) // 2
)
SELECT v AS n_terms,
       (v * (v - 1) // 2)::BIGINT AS n_pairs_possible,
       nz.n_nonzero,
       (v * (v - 1) // 2 - nz.n_nonzero)::BIGINT AS n_zero_result,
       CAST(v * (v - 1) // 2 - nz.n_nonzero AS DOUBLE)
         / CAST(v * (v - 1) // 2 AS DOUBLE) AS zero_rate,
       med.p50_co_df
FROM vocab, nz, med
"""


# --------------------------------------------------------------------------
# q204: BM25-vs-TFIDF rank correlation — the "is the fancy scorer
# even different here" audit: Spearman rho between the two scoring
# functions over the shared candidate set (q156's rank-difference
# machinery). rho ≈ 1 means augmented-TFIDF (the reference's own
# scorer, TF_IDF.java) and BM25 order this corpus identically and a
# migration is rank-neutral; a low rho localizes where the length
# normalization actually bites.
#
# Determinism: both scores are DECIMAL-folded per-doc sums of exact
# trees; ranks over (score DESC, doc_id) total orders; Σd² and
# n(n²−1) exact int64 (q156's recipe); rho ONE IEEE tree, UNROUNDED.
# Scale shape: one tf/dl frame, two map-only score columns, two rank
# windows, a 1-row rollup.
# --------------------------------------------------------------------------


def q204_scorer_rank_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    toks = tokens(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats_row = dl.agg(F.avg("dl").alias("avgdl")).crossJoin(
        load_docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    tf_q = tf.filter(F.col("term").isin(BM25_QUERY_TERMS))
    max_tf = tf_q.groupBy("doc_id").agg(F.max("tf").alias("max_tf"))
    base = (
        tf_q.join(dl, "doc_id")
        .join(max_tf, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats_row))
    )
    bm25 = (
        F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.lit(K1 + 1.0)
        * F.col("tf")
        / (
            F.col("tf")
            + F.lit(K1)
            * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
        )
    )
    tfidf = (0.4 + 0.6 * F.col("tf") / F.col("max_tf")) * F.log(
        F.col("n_docs").cast("double") / F.col("df")
    )
    scored = base.withColumn("sa", bm25).withColumn("sb", tfidf).groupBy(
        "doc_id"
    ).agg(
        F.sum(F.col("sa").cast("decimal(28,12)"))
        .cast("double")
        .alias("score_a"),
        F.sum(F.col("sb").cast("decimal(28,12)"))
        .cast("double")
        .alias("score_b"),
    )
    ranked = scored.withColumn(
        "ra",
        F.row_number()
        .over(Window.orderBy(F.desc("score_a"), F.asc("doc_id")))
        .cast("long"),
    ).withColumn(
        "rb",
        F.row_number()
        .over(Window.orderBy(F.desc("score_b"), F.asc("doc_id")))
        .cast("long"),
    )
    d2 = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    g = ranked.groupBy().agg(
        F.count("*").cast("long").alias("n_docs_ranked"),
        F.sum(d2).cast("long").alias("d2_sum"),
    )
    nn = F.col("n_docs_ranked")
    return g.filter(nn >= 2).select(
        "n_docs_ranked",
        "d2_sum",
        (
            F.lit(1.0)
            - (F.lit(6) * F.col("d2_sum")).cast("double")
            / (nn * (nn * nn - 1)).cast("double")
        ).alias("spearman_rho"),
    )


QUERIES["q204_scorer_rank_corr"] = q204_scorer_rank_corr

_Q204_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

ORACLE["q204_scorer_rank_corr"] = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
tfq AS (SELECT * FROM tf WHERE term IN ({_Q204_TERMS})),
mx AS (SELECT doc_id, max(tf) AS max_tf FROM tfq GROUP BY doc_id),
scored AS (
  SELECT tfq.doc_id,
         sum(CAST(ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                  * (1.2 + 1.0) * tfq.tf
                  / (tfq.tf + 1.2 * ((1.0 - 0.75)
                                     + 0.75 * dl.dl / ad.avgdl))
                  AS DECIMAL(28,12)))::DOUBLE AS score_a,
         sum(CAST((0.4 + 0.6 * tfq.tf / mx.max_tf)
                  * ln(CAST(n.n_docs AS DOUBLE) / dft.df)
                  AS DECIMAL(28,12)))::DOUBLE AS score_b
  FROM tfq JOIN dl USING (doc_id) JOIN mx USING (doc_id)
           JOIN dft ON tfq.term = dft.term
  CROSS JOIN n CROSS JOIN ad
  GROUP BY tfq.doc_id
),
ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_a DESC, doc_id ASC)::BIGINT
           AS ra,
         row_number() OVER (ORDER BY score_b DESC, doc_id ASC)::BIGINT
           AS rb
  FROM scored
),
g AS (
  SELECT count(*)::BIGINT AS n_docs_ranked,
         sum((ra - rb) * (ra - rb))::BIGINT AS d2_sum
  FROM ranked
)
SELECT n_docs_ranked, d2_sum,
       1.0::DOUBLE - CAST(6 * d2_sum AS DOUBLE)
         / CAST(n_docs_ranked * (n_docs_ranked * n_docs_ranked - 1)
                AS DOUBLE) AS spearman_rho
FROM g WHERE n_docs_ranked >= 2
"""


# --------------------------------------------------------------------------
# q210: result-cache hit-rate model — how much of the query stream
# would an LFU result cache of size C absorb? Query popularity proxy:
# the conjunctive pair census (q203's co-df — pairs users can ask
# that actually have results, weighted by their match mass, the
# standard proxy when no log exists yet). LFU at size C captures
# exactly the top-C pairs' share of total mass — a closed form over
# the ranked census, evaluated at CACHE_SIZES in ONE window pass.
#
# Determinism: masses exact int64; cumulative shares off a rank
# window with total tie-break; shares single IEEE divisions.
# Scale shape: q203's bounded pair census + one rank window + a
# |sizes|-row probe (exact-rank, q186's conditional-agg idiom).
# --------------------------------------------------------------------------

CACHE_SIZES = (8, 64, 256)


def q210_cache_hit_model(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pres = tokens(spark, sf_dir).select("doc_id", "term").distinct()
    a = pres.select("doc_id", F.col("term").alias("ta"))
    b = pres.select("doc_id", F.col("term").alias("tb"))
    pair = (
        a.join(b, "doc_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").cast("long").alias("mass"))
    )
    w = Window.orderBy(F.desc("mass"), F.asc("ta"), F.asc("tb"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = pair.withColumn("r", F.row_number().over(w)).withColumn(
        "cum", F.sum("mass").over(wcum).cast("long")
    )
    tot = F.broadcast(
        pair.groupBy().agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("mass").cast("long").alias("total_mass"),
        )
    )
    aggs = [
        F.max(
            F.when(F.col("r") == F.least(F.lit(c), F.col("n_pairs")), F.col("cum"))
        )
        .cast("long")
        .alias(f"cum_{c}")
        for c in CACHE_SIZES
    ]
    g = ranked.crossJoin(tot).groupBy().agg(
        F.max("n_pairs").cast("long").alias("n_pairs"),
        F.max("total_mass").cast("long").alias("total_mass"),
        *aggs,
    )
    shares = [
        (
            F.col(f"cum_{c}").cast("double")
            / F.col("total_mass").cast("double")
        ).alias(f"hit_rate_{c}")
        for c in CACHE_SIZES
    ]
    return g.select("n_pairs", "total_mass", *shares)


QUERIES["q210_cache_hit_model"] = q210_cache_hit_model

_CACHE_COLS = ", ".join(
    f"""CAST(max(CASE WHEN r = LEAST({c}, n_pairs) THEN cum END)
         AS DOUBLE) / CAST(max(total_mass) AS DOUBLE) AS hit_rate_{c}"""
    for c in CACHE_SIZES
)

ORACLE["q210_cache_hit_model"] = f"""
WITH pres AS (
  SELECT DISTINCT doc_id, w AS term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
pair AS (
  SELECT a.term AS ta, b.term AS tb, count(*)::BIGINT AS mass
  FROM pres a JOIN pres b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
),
ranked AS (
  SELECT ta, tb, mass,
         row_number() OVER (ORDER BY mass DESC, ta ASC, tb ASC) AS r,
         sum(mass) OVER (ORDER BY mass DESC, ta ASC, tb ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        )::BIGINT AS cum
  FROM pair
),
tot AS (
  SELECT count(*)::BIGINT AS n_pairs, sum(mass)::BIGINT AS total_mass
  FROM pair
)
SELECT max(n_pairs)::BIGINT AS n_pairs,
       max(total_mass)::BIGINT AS total_mass,
       {_CACHE_COLS}
FROM ranked, tot
"""
