"""Top-k query execution over the compressed index.

Two physical strategies, one semantics:

* ``score_exhaustive`` — the fully-distributed DataFrame path: bucket-
  pruned segment scan -> Arrow decode -> broadcast-join of the (tiny)
  query-term table -> deterministic fold-sum per (query, doc) ->
  window top-k. This is the scale path: no per-group memory beyond one
  segment blob, every join against query terms is a broadcast, the scan
  touches only the buckets holding query terms.
* ``wand.py`` — per-query block-max WAND over the same segments for
  low-latency serving (validated equal to the exhaustive path).

Determinism contract (rank-identity across parallelism — SURVEY.md §7.3):
per-term idf is computed once, driver-side, in Python float64; per-posting
scores use one fixed expression shape; the per-(query,doc) sum folds the
per-term scores in sorted-term order via sort_array + aggregate, never a
float ``sum()`` whose partial-aggregation order varies with partitioning.

Reference parity: disjunctive (OR) scoring with per-term accumulation is
``frontend/Mainpage.java:63-110``; conjunctive (AND) is new per the
north_rule. The blend weights 0.3 (pagerank) / 0.5 (title hit) /
0.2 (relevance) are ``Mainpage.java:88-89,105``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import catalog
from .bm25 import K1, W_PAGERANK, W_RELEVANCE, W_TITLE, idf, tf_norm
from .compress import decode_postings, to_signed, varbyte_decode
from .indexer import term_buckets
from .porter import porter_stem
from .textprep import java_tokens

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("doc_len", T.IntegerType()),
    ]
)


def parse_query(query: str) -> list[str]:
    """Reference query parsing: lowercase, whitespace split, Porter stem
    (``Mainpage.java:58-61``). Duplicate terms are kept once (the
    reference's HashMap accumulation is idempotent per term)."""
    toks = java_tokens(query.lower())
    seen: dict[str, None] = {}
    for t in toks:
        seen.setdefault(porter_stem(t), None)
    return list(seen)


def parse_exclusions(q: dict) -> list[str]:
    """Stemmed exclusion (NOT) terms from a query dict's optional
    ``exclude`` field — a raw string parsed exactly like the query, or a
    list of raw terms. A doc containing ANY of them is dropped from the
    candidate set BEFORE top-k (k fills from survivors)."""
    raw = q.get("exclude") or ""
    if isinstance(raw, (list, tuple)):
        raw = " ".join(raw)
    return parse_query(raw)


# per-postings-root cache of the INFERRED segment schema: inference
# re-reads parquet footers on every request (~0.1-0.7 s of the solo
# plan phase, inside perfbench's traced serving.search span) for a
# schema that is fixed by the code version (catalog.INDEX_FORMAT) —
# within one process it cannot change, so infer once and pass it
# explicitly thereafter.
_SEGMENT_SCHEMA_CACHE: dict[str, "T.StructType"] = {}


def load_segments(spark: SparkSession, root: str, terms: list[str]) -> DataFrame:
    """Bucket-pruned read of posting segments for the given terms.
    Layout: postings/group=<g>/bucket=<b>/ (group = build resume unit,
    bucket = term-hash pruning unit)."""
    postings_root = catalog.path(root, catalog.POSTINGS)
    buckets = sorted(set(term_buckets(spark, terms, _n_buckets(root)).values()))
    paths = [
        p
        for b in buckets
        for p in catalog.glob_dirs(
            os.path.join(postings_root, "group=*", f"bucket={b}")
        )
    ]
    if not paths:
        return spark.read.parquet(postings_root).filter(F.lit(False))
    reader = spark.read.option("basePath", postings_root)
    cached = _SEGMENT_SCHEMA_CACHE.get(postings_root)
    if cached is not None:
        df = reader.schema(cached).parquet(*paths)
    else:
        df = reader.parquet(*paths)
        _SEGMENT_SCHEMA_CACHE[postings_root] = df.schema
    return df.filter(F.col("term").isin(terms))


def _n_buckets(root: str) -> int:
    """Bucket count the build hashed terms with — from the persisted
    index metadata, NOT from counting bucket directories: partitionBy
    omits empty buckets, so a directory count can undercount and send
    every query term to the wrong bucket."""
    meta = catalog.read_meta(root)
    if "n_buckets" not in meta:
        # NO directory-count fallback: partitionBy omits empty buckets,
        # so a count can undercount and silently send every query term
        # to the wrong bucket (_meta.json is the source of truth)
        raise RuntimeError(
            f"{root}/_meta.json has no n_buckets — rebuild the postings "
            "stage (build_postings_stage writes it) before querying"
        )
    return int(meta["n_buckets"])


def decode_segments(segments: DataFrame) -> DataFrame:
    """Arrow-vectorized decode: segment blobs -> (term, doc_id, tf, doc_len)."""
    # project BEFORE mapInPandas: Spark cannot column-prune through an
    # opaque Python kernel, and an unprojected pass would drag pos_blob
    # (the largest column) through the parquet scan and Arrow transfer
    segments = segments.select("term", "doc_blob", "tf_blob", "dl_blob")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms: list[np.ndarray] = []
            docs: list[np.ndarray] = []
            tfs: list[np.ndarray] = []
            dls: list[np.ndarray] = []
            for term, doc_blob, tf_blob, dl_blob in zip(
                pdf["term"], pdf["doc_blob"], pdf["tf_blob"], pdf["dl_blob"]
            ):
                d, t = decode_postings(bytes(doc_blob), bytes(tf_blob))
                l = varbyte_decode(bytes(dl_blob)).astype(np.int64)
                terms.append(np.full(len(d), term, dtype=object))
                docs.append(d)
                tfs.append(t)
                dls.append(l)
            if docs:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms),
                        "doc_id": np.concatenate(docs),
                        "tf": np.concatenate(tfs).astype(np.int32),
                        "doc_len": np.concatenate(dls).astype(np.int32),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        "term": pd.Series([], dtype="object"),
                        "doc_id": pd.Series([], dtype="int64"),
                        "tf": pd.Series([], dtype="int32"),
                        "doc_len": pd.Series([], dtype="int32"),
                    }
                )

    return segments.mapInPandas(kernel, MATCH_SCHEMA)


POS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
    ]
)


def decode_positions(segments: DataFrame) -> DataFrame:
    """Arrow-vectorized decode of the per-posting position lists:
    pos_blob holds, per doc in blob order, [n, delta1..deltan]
    varbyte-encoded (``indexer._postings_kernel``)."""
    segments = segments.select("term", "doc_blob", "pos_blob")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_t: list[str] = []
            out_d: list[int] = []
            out_p: list[list[int]] = []
            for term, doc_blob, pos_blob in zip(
                pdf["term"], pdf["doc_blob"], pdf["pos_blob"]
            ):
                docs = to_signed(
                    np.cumsum(varbyte_decode(bytes(doc_blob)), dtype=np.uint64)
                )
                flat = varbyte_decode(bytes(pos_blob)).astype(np.int64)
                i = 0
                for d in docs:
                    n = int(flat[i])
                    deltas = flat[i + 1 : i + 1 + n]
                    i += 1 + n
                    out_t.append(term)
                    out_d.append(int(d))
                    out_p.append(np.cumsum(deltas).astype(int).tolist())
            yield pd.DataFrame(
                {
                    "term": pd.Series(out_t, dtype="object"),
                    "doc_id": pd.Series(out_d, dtype="int64"),
                    "positions": pd.Series(out_p, dtype="object"),
                }
            )

    return segments.mapInPandas(kernel, POS_SCHEMA)


def phrase_match(spark: SparkSession, root: str, phrase: list[str]) -> DataFrame:
    """Exact-phrase docs from the positional index: (doc_id, n_hits)
    where the stemmed phrase terms occur at consecutive positions.
    Adjacency is checked JVM-side on the decoded position arrays
    (arrays_overlap of shifted positions via higher-order functions)."""
    stemmed = [porter_stem(t) for t in phrase]
    if not stemmed:
        return spark.createDataFrame([], "doc_id long, n_hits int")
    # ONE decode pass: the previous per-term join chain re-ran the
    # bucket-pruned segment scan and the Python position decode once per
    # phrase term. Each (term, slot) of the phrase is a row of a tiny
    # broadcast table (a repeated term gets one row per slot), the
    # decoded postings fan out to their slots in a single map-side join,
    # and a phrase occurrence = one position present in EVERY slot's
    # shifted set — an order-insensitive array-intersection fold, so the
    # collect_list ordering cannot affect n_hits.
    slots = spark.createDataFrame(
        [(t, i) for i, t in enumerate(stemmed)], "term string, slot int"
    )
    pos = decode_positions(load_segments(spark, root, stemmed))
    shifted = pos.join(F.broadcast(slots), "term").select(
        "doc_id",
        F.transform("positions", lambda pp: pp - F.col("slot")).alias("sp"),
    )
    per_doc = shifted.groupBy("doc_id").agg(
        F.count("*").alias("n_slots"),
        F.collect_list("sp").alias("sets"),
    )
    inter = F.aggregate(
        F.slice("sets", 2, len(stemmed)),
        F.element_at("sets", 1),
        lambda acc, x: F.array_intersect(acc, x),
    )
    return (
        per_doc.filter(F.col("n_slots") == len(stemmed))
        .select("doc_id", F.size(inter).alias("n_hits"))
        .filter(F.col("n_hits") > 0)
        .orderBy("doc_id")
    )


def term_idfs(spark: SparkSession, root: str, terms: list[str], n_docs: int) -> dict[str, float]:
    """Per-term idf from the dictionary, computed driver-side in Python
    float64 (one ln definition for engine + oracle)."""
    dict_root = catalog.path(root, "dictionary")
    df = spark.read.option("basePath", dict_root).parquet(dict_root)
    rows = df.filter(F.col("term").isin(terms)).select("term", "df").collect()
    return {r["term"]: idf(n_docs, r["df"]) for r in rows}


def _query_terms_df(
    spark: SparkSession, queries: list[dict], idfs: dict[str, float]
) -> DataFrame:
    """(query_id, term, idf, n_terms, mode, k); absent terms are kept for
    the AND n_terms count but carry no postings."""
    rows = []
    for q in queries:
        mode = str(q.get("mode", "OR")).upper()
        if mode not in ("OR", "AND"):
            # the two physical strategies default opposite ways on junk
            # values (exhaustive -> AND, WAND -> OR); fail loudly instead
            raise ValueError(f"query mode must be OR or AND, got {q.get('mode')!r}")
        terms = parse_query(q["query"])
        for t in terms:
            rows.append(
                (
                    int(q["query_id"]),
                    t,
                    float(idfs.get(t, 0.0)),
                    len(terms),
                    mode,
                    int(q.get("k", 15)),
                )
            )
    schema = "query_id int, term string, idf double, n_terms int, mode string, k int"
    return spark.createDataFrame(rows, schema)


def all_query_terms(queries: list[dict]) -> list[str]:
    out: dict[str, None] = {}
    for q in queries:
        for t in parse_query(q["query"]):
            out.setdefault(t, None)
    return list(out)


def score_exhaustive(
    spark: SparkSession,
    root: str,
    queries: list[dict],
    restrict: DataFrame | None = None,
    w_anchor: float = 0.0,
) -> DataFrame:
    """(query_id, doc_id, bm25, blended, rank) for every query, top-k.

    bm25(q,d) = fold-sum over the query's terms (sorted) of
    idf * (k1+1) * tf / (tf + k1*(1-b+b*dl/avgdl)).
    blended  = 0.3*pagerank + 0.5*title_hit + 0.2*bm25
               [+ w_anchor*anchor_hit].
    Tie-break: score DESC, doc_id ASC (total order).

    ``restrict`` — optional (query_id, doc_id) candidate allow-list,
    applied BEFORE the top-k window (so k fills from the restricted
    set, not post-cut). The phrase serving mode passes the positional
    phrase matches here; the restriction must cover every query_id in
    ``queries`` or the uncovered queries return no rows.

    ``w_anchor`` — weight of the inbound-anchor-text hit
    (``anchors.build_anchor_stage``); the DEFAULT 0.0 skips the anchor
    union entirely, keeping the reference-parity plan bit-identical.
    Nonzero weights only reorder docs already matching in the body
    (anchor-only docs never become candidates).
    """
    from .indexer import read_stats

    n_docs, avgdl = read_stats(spark, root)
    terms = all_query_terms(queries)
    idfs = term_idfs(spark, root, terms, n_docs)
    qt = _query_terms_df(spark, queries, idfs)

    matches = decode_segments(load_segments(spark, root, terms))
    scored = matches.join(F.broadcast(qt), "term").select(
        "query_id",
        "doc_id",
        "term",
        (
            F.col("idf")
            * F.lit(K1 + 1.0)
            * tf_norm(F.col("tf"), F.col("doc_len"), avgdl)
        ).alias("score"),
        F.col("n_terms"),
        F.col("mode"),
        F.col("k"),
        F.lit(1).alias("is_match"),
        F.lit(0.0).alias("title"),
    )

    # title hits ride the SAME aggregation instead of a join+distinct:
    # their score is exactly 0.0 (an IEEE additive identity), so the
    # sorted-term bm25 fold is bit-identical with or without them.
    title_path = catalog.path(root, catalog.TITLE_INDEX)
    anchor_path = catalog.path(root, catalog.ANCHOR_INDEX)
    use_anchor = w_anchor != 0.0 and os.path.exists(anchor_path)
    if use_anchor:
        scored = scored.withColumn("anchor", F.lit(0.0))
    if os.path.exists(title_path):
        title = spark.read.parquet(title_path)
        th = title.join(
            F.broadcast(qt.select("query_id", "term").distinct()), "term"
        ).select(
            "query_id",
            "doc_id",
            "term",
            F.lit(0.0).alias("score"),
            F.lit(None).cast("int").alias("n_terms"),
            F.lit(None).cast("string").alias("mode"),
            F.lit(None).cast("int").alias("k"),
            F.lit(0).alias("is_match"),
            F.lit(1.0).alias("title"),
        )
        if use_anchor:
            th = th.withColumn("anchor", F.lit(0.0))
        scored = scored.unionAll(th)
    if use_anchor:
        # anchor hits ride the same aggregation with score 0.0 exactly
        # like title rows — the bm25 fold stays bit-identical
        anchor = spark.read.parquet(anchor_path)
        ah = anchor.join(
            F.broadcast(qt.select("query_id", "term").distinct()), "term"
        ).select(
            "query_id",
            "doc_id",
            "term",
            F.lit(0.0).alias("score"),
            F.lit(None).cast("int").alias("n_terms"),
            F.lit(None).cast("string").alias("mode"),
            F.lit(None).cast("int").alias("k"),
            F.lit(0).alias("is_match"),
            F.lit(0.0).alias("title"),
            F.lit(1.0).alias("anchor"),
        )
        scored = scored.unionAll(ah)

    per_doc = scored.groupBy("query_id", "doc_id").agg(
        # deterministic fold order: sort per-term scores by term name
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "score"))),
            F.lit(0.0),
            lambda acc, x: acc + x["score"],
        ).alias("bm25"),
        F.sum("is_match").alias("n_hit"),
        F.max("title").alias("title_hit"),
        F.first("n_terms", ignorenulls=True).alias("n_terms"),
        F.first("mode", ignorenulls=True).alias("mode"),
        F.first("k", ignorenulls=True).alias("k"),
        *([F.max("anchor").alias("anchor_hit")] if use_anchor else []),
    )
    # candidates = docs with at least one posting match (title-only rows
    # are not candidates — reference oracle semantics)
    candidates = per_doc.filter(
        (F.col("n_hit") > 0)
        & ((F.col("mode") == "OR") | (F.col("n_hit") == F.col("n_terms")))
    )
    if restrict is not None:
        # phrase serving: the allow-list is k-to-hundreds of rows —
        # broadcast semi-join, the candidate side never shuffles for it
        candidates = candidates.join(
            F.broadcast(restrict.select("query_id", "doc_id")),
            ["query_id", "doc_id"],
            "left_semi",
        )

    # NOT semantics: drop docs containing any excluded term BEFORE the
    # top-k window. The deny side can be head-term-sized, so this is a
    # plain shuffled anti-join on (query_id, doc_id), never a broadcast.
    ex_by_q = {int(q["query_id"]): parse_exclusions(q) for q in queries}
    ex_rows = [(qid, t) for qid, ts in ex_by_q.items() for t in ts]
    if ex_rows:
        ex_terms = sorted({t for _, t in ex_rows})
        eqt = spark.createDataFrame(ex_rows, "query_id int, term string")
        deny = (
            decode_segments(load_segments(spark, root, ex_terms))
            .join(F.broadcast(eqt), "term")
            .select("query_id", "doc_id")
            .distinct()
        )
        candidates = candidates.join(
            deny, ["query_id", "doc_id"], "left_anti"
        )

    # blend: pagerank
    pr_path = catalog.path(root, catalog.PAGERANKS)
    if os.path.exists(pr_path):
        pr = spark.read.parquet(pr_path).select("doc_id", F.col("rank").alias("pagerank"))
        candidates = candidates.join(pr, "doc_id", "left").fillna({"pagerank": 0.0})
    else:
        candidates = candidates.withColumn("pagerank", F.lit(0.0))

    blend_col = (
        F.lit(W_PAGERANK) * F.col("pagerank")
        + F.lit(W_TITLE) * F.col("title_hit")
        + F.lit(W_RELEVANCE) * F.col("bm25")
    )
    if use_anchor:
        blend_col = blend_col + F.lit(w_anchor) * F.col("anchor_hit")
    blended = candidates.withColumn("blended", blend_col)

    w = Window.partitionBy("query_id").orderBy(
        F.desc("blended"), F.asc("doc_id")
    )
    return (
        blended.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "bm25", "blended")
    )
