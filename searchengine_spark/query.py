"""Top-k query execution over the compressed index.

Two physical strategies, one semantics:

* ``score_exhaustive`` — the fully-distributed DataFrame path, one plan
  per request batch: bucket-pruned segment scan -> ``decode_segments``
  -> broadcast-join of the (tiny) query-term table -> one deterministic
  fold-sum aggregation per (query, doc) that also carries the title,
  anchor, phrase and exclusion hits as zero-score rows -> window top-k.
  Every request mode (OR, AND, PHRASE), ``-term`` exclusion and offset
  rides that one plan; the scan touches only the buckets holding query
  or exclusion terms, and every join against query terms is a broadcast.
* ``wand.py`` — per-query block-max WAND over the same segments for
  low-latency serving (validated equal to the exhaustive path).

``decode_segments`` is the one Spark-side segment reader: scoring
decodes doc/tf/dl only, phrase matching and the merge (``merge.py``)
also decode positions; the bytes themselves are
``compress.decode_segment``'s.

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
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import catalog
from .bm25 import K1, W_PAGERANK, W_RELEVANCE, W_TITLE, idf, tf_norm
from .compress import decode_segment
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


MODES = ("OR", "AND", "PHRASE")


def query_mode(q: dict, modes: tuple[str, ...] = MODES) -> str:
    """A request's mode, upper-cased (default OR). A mode outside
    ``modes`` raises ValueError: a scorer that silently ran its own
    default on junk would answer a different query than the other."""
    mode = str(q.get("mode", "OR")).upper()
    if mode not in modes:
        raise ValueError(
            f"query mode must be one of {', '.join(modes)}, got {q.get('mode')!r}"
        )
    return mode


def load_segments(spark: SparkSession, root: str, terms: list[str]) -> DataFrame:
    """Bucket-pruned read of posting segments for the given terms.
    Layout: postings/group=<g>/bucket=<b>/ (group = build resume unit,
    bucket = term-hash pruning unit). The bucket directories are listed
    per request, so merged segments are seen, and read with the declared
    postings schema (``catalog.read``), so no read infers one."""
    postings_root = catalog.path(root, catalog.POSTINGS)
    buckets = sorted(set(term_buckets(spark, terms, _n_buckets(root)).values()))
    paths = [
        p
        for b in buckets
        for p in catalog.glob_dirs(
            os.path.join(postings_root, "group=*", f"bucket={b}")
        )
    ]
    return catalog.read(spark, root, catalog.POSTINGS, paths).filter(
        F.col("term").isin(terms)
    )


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


_POSITIONS_FIELD = T.StructField("positions", T.ArrayType(T.IntegerType()))


def decode_segments(segments: DataFrame, positions: bool) -> DataFrame:
    """The one Spark-side segment reader: one row per posting, (term,
    doc_id, tf, doc_len) plus ``positions`` when asked (phrase matching,
    merge). Arrow in, Arrow out: ``compress.decode_segment`` per segment
    row, and the positions array column is built from its flat values
    and offsets with no per-posting Python object."""
    blobs = ["doc_blob", "tf_blob", "dl_blob"] + (["pos_blob"] if positions else [])
    # project BEFORE the kernel: Spark cannot column-prune through an
    # opaque Python kernel, and scoring must never drag pos_blob (the
    # largest column) through the parquet scan and Arrow transfer
    segments = segments.select("term", *blobs)
    schema = T.StructType(
        MATCH_SCHEMA.fields + ([_POSITIONS_FIELD] if positions else [])
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            segs = [
                decode_segment(*row)
                for row in zip(*(rb.column(c).to_pylist() for c in blobs))
            ]

            def flat(field: str, dtype) -> np.ndarray:
                arrays = [getattr(s, field) for s in segs]
                return np.concatenate(arrays + [np.empty(0, dtype)]).astype(dtype)

            tfs = flat("tfs", np.int32)
            counts = np.array([len(s.tfs) for s in segs], np.int64)
            row_of = np.repeat(np.arange(len(segs)), counts)
            cols = [
                rb.column("term").take(row_of),
                pa.array(flat("doc_ids", np.int64)),
                pa.array(tfs),
                pa.array(flat("dls", np.int32)),
            ]
            if positions:
                offsets = np.zeros(len(tfs) + 1, np.int32)
                np.cumsum(tfs, out=offsets[1:])
                cols.append(pa.ListArray.from_arrays(
                    offsets, pa.array(flat("positions", np.int32))
                ))
            yield pa.RecordBatch.from_arrays(cols, names=schema.fieldNames())

    return segments.mapInArrow(kernel, schema)


def phrase_match(
    spark: SparkSession, root: str, phrases: dict[int, list[str]]
) -> DataFrame:
    """Exact-phrase docs of every phrase of a batch from the positional
    index: (query_id, doc_id, n_hits) where query ``query_id``'s stemmed
    phrase terms occur at consecutive positions. One bucket-pruned scan
    and one positions decode serve all phrases: each (query, term, slot)
    of a phrase is a row of a tiny broadcast table (a repeated term gets
    one row per slot), the decoded postings fan out to their slots in a
    single map-side join, and a phrase occurrence = one position present
    in EVERY slot's shifted set — an order-insensitive array-intersection
    fold, so the collect_list ordering cannot affect n_hits. Adjacency is
    checked JVM-side with higher-order functions."""
    slots = [
        (qid, porter_stem(t), i, len(phrase))
        for qid, phrase in phrases.items()
        for i, t in enumerate(phrase)
    ]
    slots_df = catalog.local_df(
        spark, slots, "query_id int, term string, slot int, n_slots int"
    )
    terms = sorted({term for _, term, _, _ in slots})
    pos = decode_segments(load_segments(spark, root, terms), positions=True)
    shifted = pos.join(F.broadcast(slots_df), "term").select(
        "query_id",
        "doc_id",
        "n_slots",
        F.transform("positions", lambda pp: pp - F.col("slot")).alias("sp"),
    )
    per_doc = shifted.groupBy("query_id", "doc_id", "n_slots").agg(
        F.count("*").alias("n"),
        F.collect_list("sp").alias("sets"),
    )
    inter = F.aggregate(
        "sets",
        F.element_at("sets", 1),
        lambda acc, x: F.array_intersect(acc, x),
    )
    return (
        per_doc.filter(F.col("n") == F.col("n_slots"))
        .select("query_id", "doc_id", F.size(inter).alias("n_hits"))
        .filter(F.col("n_hits") > 0)
    )


def term_stats(
    spark: SparkSession, root: str, terms: list[str], n_docs: int
) -> dict[str, tuple[float, int]]:
    """term -> (idf, n_salts) for every term with postings, from one
    collect of the bucket-pruned (term, n_postings, n_salts) segment
    rows. idf is computed driver-side in Python float64 (one ln
    definition for engine + oracle) from df, the exact integer sum of
    ``n_postings`` over the term's salted segments."""
    df: dict[str, int] = {}
    salts: dict[str, int] = {}
    rows = load_segments(spark, root, terms).select("term", "n_postings", "n_salts")
    for r in rows.collect():
        df[r["term"]] = df.get(r["term"], 0) + r["n_postings"]
        salts[r["term"]] = max(salts.get(r["term"], 1), r["n_salts"])
    return {t: (idf(n_docs, d), salts[t]) for t, d in df.items()}


def term_idfs(spark: SparkSession, root: str, terms: list[str], n_docs: int) -> dict[str, float]:
    """Per-term idf (``term_stats``)."""
    return {t: i for t, (i, _) in term_stats(spark, root, terms, n_docs).items()}


def _query_terms_df(
    spark: SparkSession, queries: list[dict], stats: dict[str, tuple[float, int]]
) -> DataFrame:
    """(query_id, term, idf, n_terms, mode, k, off, deny, ranges): the
    request rows both scorers read. One row per scoring term (absent
    terms are kept for the AND n_terms count but carry no postings) and
    one ``deny`` row per exclusion term, whose idf 0.0 makes its posting
    score exactly 0.0. ``k`` is the last rank a request keeps, ``off``
    the ranks it skips (its offset). ``ranges`` is the most salts any of
    the request's scoring or exclusion terms has (``term_stats``; 1
    when none is salted): the doc-id ranges WAND splits it into."""
    rows = []
    for q in queries:
        qid, mode = int(q["query_id"]), query_mode(q)
        terms, excluded = parse_query(q["query"]), parse_exclusions(q)
        off = int(q.get("offset", 0) or 0)
        ranges = max((stats.get(t, (0.0, 1))[1] for t in terms + excluded), default=1)
        req = (len(terms), mode, off + int(q.get("k", 15)), off)
        rows += [(qid, t, stats.get(t, (0.0, 1))[0], *req, 0, ranges) for t in terms]
        rows += [(qid, t, 0.0, *req, 1, ranges) for t in excluded]
    schema = (
        "query_id int, term string, idf double, n_terms int, mode string, "
        "k int, off int, deny int, ranges int"
    )
    return catalog.local_df(spark, rows, schema)


def all_query_terms(queries: list[dict]) -> list[str]:
    """Every scoring and exclusion term of a batch, sorted: the terms a
    scorer reads segments and stats for."""
    return sorted({t for q in queries for t in parse_query(q["query"]) + parse_exclusions(q)})


_REQUEST_COLS = ("n_terms", "mode", "k", "off")


def score_exhaustive(
    spark: SparkSession,
    root: str,
    queries: list[dict],
    w_anchor: float = 0.0,
) -> DataFrame:
    """(query_id, rank, doc_id, bm25, blended) for every query, top-k,
    in one plan. A query is ``{query_id, query, mode, k, offset,
    exclude}``: ``mode`` OR (default), AND (every term matches) or
    PHRASE (AND, and the terms of ``query`` occur at consecutive
    positions, ``phrase_match``); ``exclude`` drops every doc holding
    one of its terms (``parse_exclusions``) before the top-k, so k fills
    from survivors; ranks ``offset+1 .. offset+k`` are kept (ranks are
    absolute).

    bm25(q,d) = fold-sum over the query's terms (sorted) of
    idf * (k1+1) * tf / (tf + k1*(1-b+b*dl/avgdl)).
    blended  = 0.3*pagerank + 0.5*title_hit + 0.2*bm25
               [+ w_anchor*anchor_hit].
    Tie-break: score DESC, doc_id ASC (total order).

    Title, anchor, phrase and exclusion hits ride the one (query, doc)
    aggregation as rows with score 0.0 (an IEEE additive identity, so
    the bm25 fold is bit-identical with or without them) and a flag
    column each; only posting rows of scoring terms make a candidate.

    ``w_anchor`` — weight of the inbound-anchor-text hit
    (``anchors.build_anchor_stage``); the DEFAULT 0.0 skips the anchor
    rows entirely, keeping the reference-parity plan bit-identical.
    Nonzero weights only reorder docs already matching in the body
    (anchor-only docs never become candidates).
    """
    from .indexer import read_stats

    n_docs, avgdl = read_stats(spark, root)
    terms = all_query_terms(queries)
    qt = _query_terms_df(spark, queries, term_stats(spark, root, terms, n_docs))
    use_anchor = w_anchor != 0.0 and catalog.exists(root, catalog.ANCHOR_INDEX)
    hit_flags = ["title", "phrase"] + (["anchor"] if use_anchor else [])

    matches = decode_segments(
        load_segments(spark, root, terms), positions=False
    )
    scored = matches.join(F.broadcast(qt), "term").select(
        "query_id",
        "doc_id",
        "term",
        (
            F.col("idf")
            * F.lit(K1 + 1.0)
            * tf_norm(F.col("tf"), F.col("doc_len"), avgdl)
        ).alias("score"),
        *_REQUEST_COLS,
        (1 - F.col("deny")).alias("is_match"),
        "deny",
        *(F.lit(0).alias(c) for c in hit_flags),
    )

    def hits(df: DataFrame, flag: str) -> DataFrame:
        """(query_id, doc_id, term) rows that only set ``flag``."""
        return df.select(
            "query_id",
            "doc_id",
            "term",
            F.lit(0.0).alias("score"),
            *(F.lit(None).cast(qt.schema[c].dataType).alias(c) for c in _REQUEST_COLS),
            F.lit(0).alias("is_match"),
            F.lit(0).alias("deny"),
            *(F.lit(int(c == flag)).alias(c) for c in hit_flags),
        )

    # an excluded term in a title or anchor must not count as a hit
    hit_terms = F.broadcast(qt.filter(F.col("deny") == 0).select("query_id", "term"))
    if catalog.exists(root, catalog.TITLE_INDEX):
        title = catalog.read(spark, root, catalog.TITLE_INDEX)
        scored = scored.unionAll(hits(title.join(hit_terms, "term"), "title"))
    if use_anchor:
        anchor = catalog.read(spark, root, catalog.ANCHOR_INDEX)
        scored = scored.unionAll(hits(anchor.join(hit_terms, "term"), "anchor"))
    # token order and duplicates kept: parse_query dedups, which is
    # right for bag-of-words scoring but wrong for a phrase
    phrases = {
        int(q["query_id"]): java_tokens(q["query"].lower())
        for q in queries
        if query_mode(q) == "PHRASE"
    }
    if phrases:
        phrased = phrase_match(spark, root, phrases)
        scored = scored.unionAll(hits(phrased.select(
            "query_id", "doc_id", F.lit("").alias("term")
        ), "phrase"))

    per_doc = scored.groupBy("query_id", "doc_id").agg(
        # deterministic fold order: sort per-term scores by term name
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "score"))),
            F.lit(0.0),
            lambda acc, x: acc + x["score"],
        ).alias("bm25"),
        F.sum("is_match").alias("n_hit"),
        F.max("deny").alias("denied"),
        F.max("title").alias("title_hit"),
        F.max("phrase").alias("phrased"),
        *([F.max("anchor").alias("anchor_hit")] if use_anchor else []),
        *(F.first(c, ignorenulls=True).alias(c) for c in _REQUEST_COLS),
    )
    # candidates = docs with at least one scoring-term posting (title-
    # only rows are not candidates — reference oracle semantics)
    candidates = per_doc.filter(
        (F.col("n_hit") > 0)
        & (F.col("denied") == 0)
        & ((F.col("mode") == "OR") | (F.col("n_hit") == F.col("n_terms")))
        & ((F.col("mode") != "PHRASE") | (F.col("phrased") == 1))
    )

    # blend: pagerank
    if catalog.exists(root, catalog.PAGERANKS):
        pr = catalog.read(spark, root, catalog.PAGERANKS).select(
            "doc_id", F.col("rank").alias("pagerank")
        )
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
        .filter((F.col("rank") > F.col("off")) & (F.col("rank") <= F.col("k")))
        .select("query_id", "rank", "doc_id", "bm25", "blended")
    )
