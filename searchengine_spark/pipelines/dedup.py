"""Deduplication operators over the ``documents`` / ``embeddings`` tables —
the training-data-pipeline side of the engine (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup).

Every operator is pure JVM-side DataFrame code (no Python UDFs) built on
one *portable* 60-bit token hash — ``int(md5(term)[:15hex], 16)`` — that
DuckDB can reproduce verbatim, so each entry ships with a full SQL oracle.

Scale design:
* exact dedup groups by md5(text), never by the full text blob (at
  100 TB the shuffle key must be 16 bytes, not the document);
* MinHash/LSH is the scale path for near-dup: candidate generation is
  an equi-self-join on (band, band_key) — a hash shuffle, no O(n²)
  cross product; only candidates pay the exact-Jaccard verify;
* the exhaustive Jaccard entry exists as the small-scale oracle twin of
  the LSH path (and is what pytest uses to bound LSH recall);
* SimHash packs to one int64 per doc; the scale path (q32) splits the
  60 bits into SIMHASH_MAX_HAMMING+1 bands and equi-self-joins per band
  — by pigeonhole, any pair within hamming<=6 shares at least one
  identical band, so banding is LOSSLESS for the threshold and q32
  returns exactly q18's pairs with no O(n²) product. q18 remains as the
  exhaustive oracle twin;
* embedding near-dup's scale path (q33) reuses the IVF centroid
  machinery from similarity.py: multi-assign each vector to its
  NEARDUP_NPROBE nearest cells, pair only within a shared cell, verify
  exact cosine — approximate by design (cell recall is bounded by
  tests/test_pipelines.py), q19 remains the exhaustive twin.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import _tables

from .similarity import IVF_CENTROID_MOD

# ---- portable hashing ----------------------------------------------------

MINHASH_P = 2_147_483_647  # 2^31 - 1
# fixed (a, b) parameters, a odd, all < P (seeded once, committed)
MINHASH_AB = [
    (1_203_991_247, 395_186_321),
    (666_999_777, 1_911_842_563),
    (1_543_217_865, 88_771_123),
    (2_011_939_471, 1_300_500_007),
    (877_905_281, 1_744_829_003),
    (1_111_111_121, 222_333_445),
    (1_888_421_837, 999_999_937),
    (432_100_987, 1_567_654_321),
]
N_BANDS = 4  # 8 signatures -> 4 bands x 2 rows

JACCARD_THRESHOLD = (9, 10)  # inter/union >= 9/10, compared in integers
SIMHASH_BITS = 60
SIMHASH_MAX_HAMMING = 6
EMB_NEARDUP_COS = 0.4


def portable_hash(col: Column) -> Column:
    """60-bit integer hash of a string, identical in Spark and DuckDB:
    first 15 hex chars of md5, parsed base-16."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


PORTABLE_HASH_SQL = "('0x' || substr(md5({c}), 1, 15))::BIGINT"


def load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables.load(spark, sf_dir, "documents")


def doc_token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks: sorted distinct token array, n: set size)."""
    return load_docs(spark, sf_dir).select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            )
        ).alias("toks"),
    ).withColumn("n", F.size("toks"))


def doc_distinct_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) one row per distinct token per doc."""
    return (
        doc_token_sets(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("term"))
    )


# --------------------------------------------------------------------------
# q15: exact dedup by content hash
# --------------------------------------------------------------------------

def q15_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir).select("doc_id", F.md5("text").alias("h"))
    groups = docs.groupBy("h").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size")
    )
    return (
        docs.join(groups, "h")
        .select(
            "doc_id",
            "canonical_id",
            "group_size",
            (F.col("doc_id") != F.col("canonical_id")).cast("int").alias("is_dup"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Exhaustive-twin size guard: q16/q18/q19 are O(n²) all-pairs by design
# (they exist to oracle-check their bucketed siblings). Nothing at the
# plan level stops a caller pointing one at a 100 TB corpus, so the
# intent is enforced mechanically: above ``max_docs`` rows they refuse
# and point at the scale path. ``max_docs=None`` forces through.
# --------------------------------------------------------------------------

EXHAUSTIVE_MAX_DOCS = 50_000  # ~1.25e9 candidate pairs — already absurd


def _guard_exhaustive(
    n: int, name: str, sibling: str, max_docs: int | None
) -> None:
    if max_docs is not None and n > max_docs:
        raise ValueError(
            f"{name} is the O(n^2) exhaustive oracle twin — refusing "
            f"{n:,} input rows (> {max_docs:,}). Use {sibling} (the "
            "banded/bucketed scale path) for production corpora, or pass "
            "max_docs=None to force the all-pairs run."
        )


# --------------------------------------------------------------------------
# q16: exhaustive n-gram (token-set) Jaccard near-dup — the oracle twin
# of the LSH path. O(n²); at scale use q17.
# --------------------------------------------------------------------------

def q16_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int | None = EXHAUSTIVE_MAX_DOCS,
) -> DataFrame:
    _guard_exhaustive(
        load_docs(spark, sf_dir).count(),
        "q16_ngram_jaccard", "q17_minhash_lsh", max_docs,
    )
    s = doc_token_sets(spark, sf_dir)
    a = s.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"), F.col("n").alias("na")
    )
    b = s.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"), F.col("n").alias("nb")
    )
    num, den = JACCARD_THRESHOLD
    pairs = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.col("inter") * den >= F.col("uni") * num)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter") / F.col("uni"), 9).alias("jaccard"),
    ).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# q17: MinHash + LSH banding near-dup (the scale path)
# --------------------------------------------------------------------------

def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig0..sig7) — min over the doc's distinct tokens of
    (a_i * h + b_i) mod P, h = portable_hash(term) mod P."""
    terms = doc_distinct_terms(spark, sf_dir).withColumn(
        "h", portable_hash(F.col("term")) % F.lit(MINHASH_P)
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"sig{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return terms.groupBy("doc_id").agg(*aggs)


def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) distinct LSH candidate pairs — docs sharing at
    least one identical MinHash band. q17's pre-verify stage, shared
    with the q132 banding audit."""
    sigs = minhash_signatures(spark, sf_dir)
    # one explode, not a N_BANDS-way unionAll: a union of N selects over
    # the same subtree makes Spark recompute the signature aggregation N
    # times per join branch
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                (
                    F.col(f"sig{2 * bi}") * F.lit(MINHASH_P)
                    + F.col(f"sig{2 * bi + 1}")
                ).alias("band_key"),
            )
            for bi in range(N_BANDS)
        ]
    )
    banded = sigs.select(
        "doc_id", F.explode(band_structs).alias("bv")
    ).select("doc_id", F.col("bv.band").alias("band"),
             F.col("bv.band_key").alias("band_key"))
    l = banded.select("band", "band_key", F.col("doc_id").alias("doc_a"))
    r = banded.select("band", "band_key", F.col("doc_id").alias("doc_b"))
    return (
        l.join(r, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def q17_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = lsh_candidates(spark, sf_dir)
    # verify candidates with exact jaccard
    s = doc_token_sets(spark, sf_dir)
    num, den = JACCARD_THRESHOLD
    verified = (
        cand.join(
            s.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"),
                     F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            s.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"),
                     F.col("n").alias("nb")),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.col("inter") * den >= F.col("uni") * num)
    )
    return verified.select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter") / F.col("uni"), 9).alias("jaccard"),
    ).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# q18: SimHash near-dup (tf-weighted 60-bit fingerprint, hamming pairs)
# --------------------------------------------------------------------------

def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", portable_hash(F.col("term")))
    )
    bits = spark.range(SIMHASH_BITS).select(F.col("id").cast("int").alias("j"))
    contrib = tf.crossJoin(F.broadcast(bits)).select(
        "doc_id",
        "j",
        F.expr("tf * ((shiftright(h, j) & 1) * 2 - 1)").alias("v"),
    )
    return (
        contrib.groupBy("doc_id", "j")
        .agg(F.sum("v").alias("s"))
        .withColumn("bit", (F.col("s") > 0).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("bit * shiftleft(cast(1 as bigint), j)")).alias("simhash")
        )
    )


# band boundaries: SIMHASH_MAX_HAMMING+1 near-equal slices of the 60
# bits — [0, 9, 17, 26, 34, 43, 51, 60]
SIMHASH_BAND_LO = [
    round(SIMHASH_BITS * j / (SIMHASH_MAX_HAMMING + 1))
    for j in range(SIMHASH_MAX_HAMMING + 2)
]


def q32_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup — the 100 TB path for q18. Candidate
    generation is an equi-self-join on (band_idx, band_value): a hash
    shuffle of one small int per doc per band, never a cross product.
    Pigeonhole over 7 bands makes it exact for hamming <= 6, so the
    oracle is the same exhaustive SQL as q18."""
    sh = simhash_docs(spark, sf_dir)
    # one explode, not a 7-way unionAll (which would recompute the
    # simhash aggregation once per band per join branch)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                (
                    F.shiftright("simhash", SIMHASH_BAND_LO[j]).bitwiseAND(
                        F.lit((1 << (SIMHASH_BAND_LO[j + 1]
                                     - SIMHASH_BAND_LO[j])) - 1)
                    )
                ).alias("band_val"),
            )
            for j in range(SIMHASH_MAX_HAMMING + 1)
        ]
    )
    banded = sh.select(
        "doc_id", "simhash", F.explode(band_structs).alias("bv")
    ).select("doc_id", "simhash", F.col("bv.band").alias("band"),
             F.col("bv.band_val").alias("band_val"))
    l = banded.select("band", "band_val", F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("ha"))
    r = banded.select("band", "band_val", F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("hb"))
    cand = (
        l.join(r, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def q18_simhash(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int | None = EXHAUSTIVE_MAX_DOCS,
) -> DataFrame:
    _guard_exhaustive(
        load_docs(spark, sf_dir).count(),
        "q18_simhash", "q32_simhash_banded", max_docs,
    )
    sh = simhash_docs(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# q19: embedding-cosine near-dup (double-precision, fixed fold order)
# --------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    # HOF fold, deliberately — see similarity._dot (unrolling measured
    # slower; the scale lever is pair count, not per-pair dot cost)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def embeddings_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    )


def q19_embedding_neardup(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int | None = EXHAUSTIVE_MAX_DOCS,
) -> DataFrame:
    _guard_exhaustive(
        embeddings_double(spark, sf_dir).count(),
        "q19_embedding_neardup", "q33_embedding_neardup_ivf", max_docs,
    )
    e = embeddings_double(spark, sf_dir).withColumn("nrm", _dot(F.col("v"), F.col("v")))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    pairs = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb")), 9
            ),
        )
        .filter(F.col("cos") >= EMB_NEARDUP_COS)
    )
    return pairs.select("vec_a", "vec_b", "cos").orderBy("vec_a", "vec_b")


# --------------------------------------------------------------------------
# q33: IVF-bucketed embedding near-dup (the scale path for q19) —
# multi-assign every vector to its NEARDUP_NPROBE nearest centroid
# cells (broadcast centroids, map-side), generate candidate pairs only
# within a shared cell (equi-join on cent_id — a hash shuffle of
# (vec_id, cent_id), never an O(n²) product), verify exact cosine.
# --------------------------------------------------------------------------

NEARDUP_NPROBE = 2


def q33_embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import IVF_CENTROID_MOD, _with_norm, load_emb

    e = _with_norm(load_emb(spark, sf_dir))
    cents = e.filter(F.pmod("vec_id", F.lit(IVF_CENTROID_MOD)) == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("centv"),
        F.col("nrm").alias("centn"),
    )
    from .similarity import topn_assign

    base = e.select("vec_id", F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    asgn = base.crossJoin(F.broadcast(cents)).withColumn(
        "sim", _dot(F.col("cv"), F.col("centv")) / (F.col("cn") * F.col("centn"))
    )
    # top-NEARDUP_NPROBE cells per vector as an ObjectHashAggregate
    # (see similarity.topn_assign: a window — or a max(struct) — would
    # SORT the |vecs|x|cents| pair table); payload vectors rejoin from
    # `base` by vec_id, so the arrays never cross a sort
    assigned = topn_assign(
        asgn, "vec_id", "cent_id", base, n=NEARDUP_NPROBE
    )
    cand = (
        assigned.select("cent_id", F.col("vec_id").alias("vec_a"))
        .join(assigned.select("cent_id", F.col("vec_id").alias("vec_b")), "cent_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # exact-cosine verify with the SAME expression shape as q19 (raw
    # squared-norm dot, one sqrt at the end) so the twin entries agree
    # bit-for-bit on shared pairs
    ev = embeddings_double(spark, sf_dir).withColumn(
        "sq", _dot(F.col("v"), F.col("v"))
    )
    pairs = (
        cand.join(
            ev.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                      F.col("sq").alias("na")),
            "vec_a",
        )
        .join(
            ev.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                      F.col("sq").alias("nb")),
            "vec_b",
        )
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb")), 9
            ),
        )
        .filter(F.col("cos") >= EMB_NEARDUP_COS)
    )
    return pairs.select("vec_a", "vec_b", "cos").orderBy("vec_a", "vec_b")


# --------------------------------------------------------------------------
# q38: duplicate-cluster canonicalization — connected components over the
# verified LSH near-dup pairs (q17), one canonical doc per cluster. The
# last step of a real dedup pipeline: pairs alone can't drive a keep/drop
# decision when dups chain (a~b, b~c but a!~c must still collapse to one
# kept doc).
#
# Algorithm: min-label propagation (each doc starts labeled with its own
# id; every round each node takes the min label among itself, its
# neighbors, AND its current label's label — the pointer-doubling hop
# that turns O(diameter) rounds into O(log diameter) (Hash-to-Min,
# Rastogi et al. 2013), so long dup CHAINS can't stall the loop; giant
# near-CLIQUE components (the sf0.001 fixture has a 231-doc one)
# converge in ~2 rounds regardless because the hub re-broadcasts the
# min. Fixpoint = per-component min id. Each round is one equi-join + one
# partial+final min aggregation — hash shuffles on int64 keys only, and
# localCheckpoint cuts the growing lineage exactly like the PageRank loop.
# Exact dups are subsumed: identical texts share every minhash band, so
# q17 always emits them (jaccard = 1 >= 9/10).
# --------------------------------------------------------------------------


def q38_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q17_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("u", "v")
        .localCheckpoint()  # LSH pipeline runs once, not once per round
    )
    labels = load_docs(spark, sf_dir).select(
        "doc_id", F.col("doc_id").alias("lbl")
    ).localCheckpoint()
    while True:
        nbr_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("v"), "lbl"), "v"
            )
            .groupBy("u")
            .agg(F.min("lbl").alias("nmin"))
        )
        lbl_lbl = labels.select(
            F.col("doc_id").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        # the convergence flag rides the SAME materialization as the
        # labels (old lbl is already on the row) — a separate
        # new-vs-old join + count action per round roughly doubled the
        # per-round wall at sf0.01
        new_full = (
            labels.join(
                nbr_min.withColumnRenamed("u", "doc_id"), "doc_id", "left"
            )
            .join(lbl_lbl, "lbl", "left")
            .withColumn(
                "nlbl",
                F.least(
                    F.col("lbl"),
                    F.coalesce("nmin", F.col("lbl")),
                    F.coalesce("lbl2", F.col("lbl")),
                ),
            )
            .select(
                "doc_id",
                F.col("nlbl").alias("new_lbl"),
                (F.col("nlbl") != F.col("lbl")).cast("int").alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_full.agg(F.sum("chg")).first()[0]
        labels = new_full.select("doc_id", F.col("new_lbl").alias("lbl"))
        if not changed:
            break
    comp = labels.withColumnRenamed("lbl", "cluster_id")
    sizes = comp.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        comp.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q54: all-pairs sparse (tf-idf) cosine similarity — inverted-index
# self-join. Token-space sibling of the embedding paths (q19/q33): the
# shuffle carries (term, doc_id, weight) postings, never document text,
# and candidate pairs materialize only for documents that actually share
# a term (volume = sum over terms of df(t)^2). On a real Zipf corpus the
# `max_df_frac` cap bounds that sum by dropping stopword-grade terms
# before pairing (their idf weight is ~0 anyway); the fixture's 31-word
# synthetic vocabulary is degenerately dense (every term in ~every doc),
# so the contract entry runs uncapped and, like q16/q17, the entry is
# correctness-gated at sf0.01 rather than benchmarked at sf0.1.
# Float discipline (CLAUDE.md): norms and dots fold as exact
# DECIMAL(28,12) partials — order-insensitive at any parallelism and
# bit-identical in DuckDB — with ONE double division / sqrt at the end.
# --------------------------------------------------------------------------

SPARSE_COS_THRESHOLD = 0.9


def sparse_cosine_pairs(
    docs: DataFrame,
    threshold: float = SPARSE_COS_THRESHOLD,
    max_df_frac: float | None = None,
) -> DataFrame:
    """(doc_a, doc_b, cosine) for tf-idf cosine >= threshold.

    w(d,t) = tf * ln(N/df); vectors L2-normalized; pairs built by an
    equi-self-join of the (term, doc, weight) inverted index — one hash
    shuffle on term, no O(n^2) cross product."""
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_row = docs.agg(F.count("*").cast("double").alias("n_docs"))
    dfs = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_df_frac is not None:
        dfs = (
            dfs.crossJoin(F.broadcast(n_row))
            .filter(F.col("df") <= F.col("n_docs") * F.lit(max_df_frac))
            .select("term", "df")
        )
    # dfs is |vocab| rows (the q46 LM-broadcast shape): broadcast it over
    # the posting stream, never the reverse.
    w = (
        tf.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(n_row))
        .withColumn("w", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    norms = (
        w.groupBy("doc_id")
        .agg(F.sum((F.col("w") * F.col("w")).cast("decimal(28,12)")).alias("ss"))
        .select("doc_id", F.sqrt(F.col("ss").cast("double")).alias("nrm"))
    )
    inv = w.join(norms, "doc_id").select(
        "term", "doc_id", (F.col("w") / F.col("nrm")).alias("wn")
    )
    a = inv.select(
        F.col("term").alias("t"),
        F.col("doc_id").alias("doc_a"),
        F.col("wn").alias("wa"),
    )
    b = inv.select(
        F.col("term").alias("t"),
        F.col("doc_id").alias("doc_b"),
        F.col("wn").alias("wb"),
    )
    return (
        a.join(b, "t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(28,12)")).alias("dot")
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot").cast("double"), 9).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .orderBy("doc_a", "doc_b")
    )


def q54_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparse_cosine_pairs(load_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# q55: duplicated-span detection — exact-substring dedup at K-token
# shingle granularity (the span-level complement of q15's whole-document
# hash). Every K-token window hashes to one portable 60-bit int; a span
# is "duplicated" when its hash occurs in >= 2 distinct documents. The
# shuffle carries (shingle_hash, doc_id, pos) — 8-byte keys, linear in
# corpus tokens, never document text — so unlike the pairwise near-dup
# family this op needs no candidate pairing at all and scales to 100 TB
# as two hash aggregations. Output: per-doc duplicated-token coverage
# (union of flagged windows) and a flag at DUP_SPAN_FLAG fraction.
# --------------------------------------------------------------------------

SPAN_K = 8
DUP_SPAN_FLAG = (1, 5)  # flag docs with >= 1/5 of tokens inside a dup span


def span_doc_base(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, n_toks) tokenized base for span hashing."""
    return docs.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("toks"),
    ).withColumn("n_toks", F.size("toks"))


def span_occurrences(base: DataFrame) -> DataFrame:
    """(doc_id, pos, sh) one row per K-token window — hashes all windows
    inside one JVM expression (no per-position array duplication), then
    posexplodes."""
    k = SPAN_K
    sh_arr = F.when(
        F.col("n_toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.col("n_toks") - k + 1),
            lambda i: portable_hash(F.concat_ws(" ", F.slice("toks", i, k))),
        ),
    ).otherwise(F.expr("array()").cast("array<long>"))
    return base.select(
        "doc_id", F.posexplode(sh_arr).alias("pos0", "sh")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "sh")


def dup_spans(docs: DataFrame) -> DataFrame:
    base = span_doc_base(docs)
    return dup_spans_from(base.select("doc_id", "n_toks"), span_occurrences(base))


def dup_spans_from(base: DataFrame, occ: DataFrame) -> DataFrame:
    """Aggregation half of q55 over (doc_id, n_toks) + (doc_id, pos, sh)
    — also fed by the streaming twin's folded per-batch partials."""
    k = SPAN_K
    dup = (
        occ.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    # dup is tiny relative to occ on real corpora but CAN be large on a
    # heavily-duplicated crawl — left to Catalyst/AQE (broadcast when it
    # fits, hash shuffle otherwise), nothing hard-coded.
    docc = occ.join(dup, "sh")
    cover = (
        docc.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("p").alias("dup_tokens"))
    )
    ndup = docc.groupBy("doc_id").agg(F.count("*").alias("n_dup_shingles"))
    num, den = DUP_SPAN_FLAG
    return (
        base.select("doc_id", "n_toks")
        .join(ndup, "doc_id", "left")
        .join(cover, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_toks").cast("long").alias("n_toks"),
            F.greatest(F.col("n_toks") - k + 1, F.lit(0))
            .cast("long")
            .alias("n_shingles"),
            F.coalesce(F.col("n_dup_shingles"), F.lit(0).cast("long")).alias(
                "n_dup_shingles"
            ),
            F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).alias(
                "dup_tokens"
            ),
        )
        .withColumn("dup_frac", F.round(F.col("dup_tokens") / F.col("n_toks"), 9))
        .withColumn(
            "flag_dup",
            (F.col("dup_tokens") * den >= F.col("n_toks") * num).cast("int"),
        )
        .orderBy("doc_id")
    )


def q55_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_spans(load_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# q106: maximal duplicated-span EXTENTS — q55 reports per-doc coverage
# totals; the operator a cleaning pipeline actually executes needs the
# span boundaries (cut THESE token ranges out of THIS doc). Adjacent /
# overlapping flagged K-token windows merge into maximal extents via
# gaps-and-islands: a covered token position p belongs to island
# p - row_number(p within doc) — consecutive runs share one island id.
# Output: one row per maximal extent (doc_id, span_start, span_end,
# span_len), the exact-substring dedup cut list.
#
# Scale shape: everything up to the covered-position set is q55's two
# linear hash aggs (8-byte keys, never text); the islands window
# partitions BY DOC over that doc's covered positions — bounded by doc
# length, never a global sort. Extents = one more (doc, island) hash
# agg. Linear end to end, no candidate pairing.
# --------------------------------------------------------------------------


def dup_span_extents(docs: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    base = span_doc_base(docs)
    occ = span_occurrences(base)
    k = SPAN_K
    dup = (
        occ.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    covered = (
        occ.join(dup, "sh")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias(
                "p"
            ),
        )
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    islands = covered.withColumn(
        "island", F.col("p") - F.row_number().over(w)
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("p").cast("long").alias("span_start"),
            F.max("p").cast("long").alias("span_end"),
            F.count("*").cast("long").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_end", "span_len")
        .orderBy("doc_id", "span_start")
    )


def q106_dup_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_span_extents(load_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# q83: asymmetric shingle CONTAINMENT — catches "doc A is a chunk of
# doc B" pairs that symmetric Jaccard (q16/q17) misses when |B| >> |A|
# (the union term drowns the overlap). c = |S(A) ∩ S(B)| / min(|S(A)|,
# |S(B)|) over distinct W-token shingle hashes (Broder's containment).
#
# Scale shape: candidate generation is the q54 inverted-index
# equi-self-join on the 8-byte shingle hash — one hash shuffle, no O(n²)
# product. Shingles above CONTAIN_MAX_DF docs are boilerplate
# (navigation chrome, licence blocks) and would square the bucket
# fan-out, so they are dropped from BOTH the intersection and the set
# sizes (the capped universe is the metric's universe — consistent in
# engine and oracle). The threshold compares in integers
# (inter*den >= min_n*num), immune to float-divide rounding.
# --------------------------------------------------------------------------

CONTAIN_W = 3  # word-shingle width
CONTAIN_THRESHOLD = (4, 5)  # containment >= 4/5, compared in integers
CONTAIN_MAX_DF = 200  # stop-shingle cap (boilerplate cutoff)


def doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) one row per DISTINCT W-token shingle hash per doc —
    hashed inside one JVM array expression (q55's trick), deduped
    in-row before the explode."""
    w = CONTAIN_W
    base = span_doc_base(docs)
    sh_arr = F.when(
        F.col("n_toks") >= w,
        F.transform(
            F.sequence(F.lit(1), F.col("n_toks") - w + 1),
            lambda i: portable_hash(F.concat_ws(" ", F.slice("toks", i, w))),
        ),
    ).otherwise(F.expr("array()").cast("array<long>"))
    return base.select(
        "doc_id", F.explode(F.array_distinct(sh_arr)).alias("sh")
    )


def shingle_containment_pairs(
    docs: DataFrame,
    threshold: tuple[int, int] = CONTAIN_THRESHOLD,
    max_df: int = CONTAIN_MAX_DF,
) -> DataFrame:
    occ = doc_shingle_sets(docs)
    df_sh = occ.groupBy("sh").agg(F.count("*").alias("sdf"))
    capped = occ.join(df_sh.filter(F.col("sdf") <= max_df), "sh").select(
        "doc_id", "sh", "sdf"
    )
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("n"))
    # df==1 shingles stay in the denominators (dropping them would
    # inflate containment) but can't intersect — prune them from the
    # join inputs only.
    joinable = capped.filter(F.col("sdf") >= 2).select("doc_id", "sh")
    a = joinable.select(F.col("doc_id").alias("doc_a"), "sh")
    b = joinable.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    num, den = threshold
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("inter") * den >= F.least(F.col("na"), F.col("nb")) * num
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "na",
            "nb",
            (F.col("inter").cast("double") / F.col("na")).alias("cont_a"),
            (F.col("inter").cast("double") / F.col("nb")).alias("cont_b"),
        )
        .orderBy("doc_a", "doc_b")
    )


def q83_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingle_containment_pairs(load_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# q85: cross-source duplicate-leakage matrix — the q17 LSH near-dup
# pair set labelled with each side's `source` and aggregated to
# (source_a, source_b) counts: the diagnostic a training-data pipeline
# runs to find which feeds copy which (within-source boilerplate vs
# cross-source scrape leakage drive different curation responses).
# Source pair is normalised lexicographically (least/greatest), so the
# matrix is its symmetric upper triangle. Scale shape: q17's banded
# join produces the pairs (no O(n²)); the label join is doc-keyed
# against a 2-column projection of documents; the final agg is
# |sources|² rows. `share` = n_pairs/total is an integer-input IEEE
# division off a 1-row broadcast total.
# --------------------------------------------------------------------------

def q85_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q17_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_docs(spark, sf_dir).select("doc_id", "source")
    lab = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
            ),
            "doc_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
    )
    tot = lab.agg(F.count("*").alias("n_total"))
    return (
        lab.groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (F.col("n_pairs").cast("double") / F.col("n_total")).alias("share"),
            (F.col("source_a") == F.col("source_b")).cast("int").alias("within"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# q89: canonical-representative selection — the keep/drop decision that
# completes the dedup pipeline: q38's connected components tell WHICH
# docs form a duplicate cluster; this picks WHICH ONE survives, by
# quality (q23's score), not by arbitrary id — a boilerplate-heavy
# scrape of a good page must not outrank the original. Output is one
# row per multi-doc cluster (singletons need no decision). Scale shape:
# q38's CC labels (int64 rows) join doc-keyed against the map-only
# quality projection, then one row_number window partitioned by
# cluster_id over clusters only — the window input is |dup docs|, not
# |corpus|. Tie-break: quality DESC (9dp-rounded, bit-identical both
# engines), then doc_id ASC — total order.
# --------------------------------------------------------------------------


def q89_canonical_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textstats import doc_quality

    comp = (
        q38_dup_clusters(spark, sf_dir)
        .filter(F.col("cluster_size") >= 2)
        .select("doc_id", "cluster_id", "cluster_size")
    )
    qual = doc_quality(load_docs(spark, sf_dir))
    j = comp.join(qual, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        j.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("quality").alias("canonical_quality"),
            "cluster_size",
            (F.col("cluster_size") - F.lit(1)).alias("n_pruned"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# q98: URL canonicalization dedup — the FIRST dedup pass every web
# pipeline runs, before any content hashing: the same page is crawled
# under scheme/case/port/tracking-param/fragment/trailing-slash variants
# (Common Crawl measures ~10-20% of fetches are URL-level re-crawls).
# The driver ``documents`` table carries no URL column, so raw URLs are
# synthesized deterministically (3 variants per canonical target, keyed
# off doc_id — exactly the variant classes above) and then pushed
# through a REAL canonicalization chain: strip query+fragment, lowercase,
# http→https, drop the default :443 port, strip the trailing slash.
#
# Scale shape: identical to q15 — map-only canonicalization expressions
# (zero Python), one hash agg on the canonical string, one broadcast-able
# group join back. At 100 TB the canonical-url agg is the dedup shuffle
# every crawler already pays; nothing else moves.
# --------------------------------------------------------------------------

URLDEDUP_FANOUT = 3  # raw variants per canonical URL


def _raw_url() -> Column:
    """Deterministic raw-URL synthesis over doc_id (both engines emit
    byte-identical strings): group g = doc_id DIV 3 is the canonical
    target, doc_id % 3 picks the variant class."""
    g = F.expr("doc_id DIV 3").cast("string")
    h = F.expr(f"(doc_id DIV {URLDEDUP_FANOUT}) % 7").cast("string")
    v = F.expr(f"doc_id % {URLDEDUP_FANOUT}")
    return (
        F.when(
            v == 0,
            F.concat(F.lit("HTTPS://Site"), h, F.lit(".Example/docs/"),
                     g, F.lit("/")),
        )
        .when(
            v == 1,
            F.concat(F.lit("https://site"), h, F.lit(".example:443/docs/"),
                     g, F.lit("?utm_source=rss&utm_medium=feed")),
        )
        .otherwise(
            F.concat(F.lit("http://site"), h, F.lit(".example/docs/"),
                     g, F.lit("#frag")),
        )
    )


def canonical_url(url: Column) -> Column:
    """Canonicalization chain (order matters and is pinned by the
    oracle): strip query+fragment -> lowercase -> http:// -> https:// ->
    drop default :443 port -> strip trailing slash."""
    c = F.regexp_replace(url, r"[?#].*$", "")
    c = F.lower(c)
    c = F.regexp_replace(c, r"^http://", "https://")
    c = F.regexp_replace(c, r":443", "")
    return F.regexp_replace(c, r"/$", "")


def q98_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir).select(
        "doc_id", _raw_url().alias("raw_url")
    )
    canon = docs.withColumn("canonical_url", canonical_url(F.col("raw_url")))
    groups = canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("group_size"),
    )
    return (
        canon.join(groups, "canonical_url")
        .select(
            "doc_id",
            "raw_url",
            "canonical_url",
            "canonical_id",
            "group_size",
            (F.col("doc_id") != F.col("canonical_id")).cast("int").alias(
                "is_dup"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q99: prefix-truncation dedup — catches "doc A is a truncated render of
# doc B" pairs (paywall cutoffs, RSS summaries, re-crawls that died
# mid-page). Whole-document hashing (q15) misses them by construction,
# and symmetric shingle Jaccard under-scores them when the length gap is
# large; prefix identity is the signal web pipelines actually use.
#
# Scale shape: bucket by a PREFIX_KEY_CHARS-char prefix hash (one hash
# agg on 16-byte keys), equi-self-join only inside a bucket, verify with
# one startswith per candidate pair. Buckets above PREFIX_BUCKET_CAP
# docs are boilerplate-prefix chrome (cookie banners, shared headers)
# that would square the fan-out — dropped on BOTH engines, the q83
# stop-shingle discipline.
# --------------------------------------------------------------------------

PREFIX_KEY_CHARS = 64
PREFIX_BUCKET_CAP = 50


def q99_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.md5(F.substring("text", 1, PREFIX_KEY_CHARS)).alias("k"),
        F.length("text").alias("ln"),
    )
    ok = (
        d.groupBy("k")
        .agg(F.count("*").alias("c"))
        .filter((F.col("c") >= 2) & (F.col("c") <= PREFIX_BUCKET_CAP))
        .select("k")
    )
    dd = d.join(F.broadcast(ok), "k")
    a = dd.select(
        "k",
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("ta"),
        F.col("ln").alias("len_a"),
    )
    b = dd.select(
        "k",
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("tb"),
        F.col("ln").alias("len_b"),
    )
    return (
        a.join(b, "k")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "kind",
            F.when(
                (F.col("len_a") <= F.col("len_b"))
                & F.col("tb").startswith(F.col("ta")),
                F.lit("a_prefix_of_b"),
            ).when(
                (F.col("len_a") > F.col("len_b"))
                & F.col("ta").startswith(F.col("tb")),
                F.lit("b_prefix_of_a"),
            ),
        )
        .filter(F.col("kind").isNotNull())
        .select("doc_a", "doc_b", "len_a", "len_b", "kind")
        .orderBy("doc_a", "doc_b")
    )


QUERIES = {
    "q15_dedup_exact": q15_dedup_exact,
    "q98_url_dedup": q98_url_dedup,
    "q99_prefix_dedup": q99_prefix_dedup,
    "q16_ngram_jaccard": q16_ngram_jaccard,
    "q17_minhash_lsh": q17_minhash_lsh,
    "q18_simhash": q18_simhash,
    "q19_embedding_neardup": q19_embedding_neardup,
    "q32_simhash_banded": q32_simhash_banded,
    "q33_embedding_neardup_ivf": q33_embedding_neardup_ivf,
    "q38_dup_clusters": q38_dup_clusters,
    "q54_sparse_cosine": q54_sparse_cosine,
    "q55_dup_spans": q55_dup_spans,
    "q106_dup_span_extents": q106_dup_span_extents,
    "q83_shingle_containment": q83_shingle_containment,
    "q85_dup_source_matrix": q85_dup_source_matrix,
    "q89_canonical_rep": q89_canonical_rep,
}

_TOKSETS_CTE = """
toksets AS (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(string_split(text, ' '),
                                             x -> x <> ''))) AS toks
  FROM documents
),
tsn AS (SELECT doc_id, toks, len(toks) AS n FROM toksets)
"""

_H = PORTABLE_HASH_SQL.format(c="term")

_SIG_EXPRS = ",\n       ".join(
    f"min(({a} * h + {b}) % 2147483647) AS sig{i}"
    for i, (a, b) in enumerate(MINHASH_AB)
)

_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {bi} AS band, sig{2*bi} * 2147483647 + sig{2*bi+1} AS band_key FROM sigs"
    for bi in range(N_BANDS)
)

# Shared connected-components chain (q17 banded LSH pairs -> symmetric
# edges -> recursive min-label walk -> comp/sizes), reused by q38 and
# q89.
_CC_CTES = f"""{_TOKSETS_CTE},
terms AS MATERIALIZED (
  SELECT doc_id, {_H} % 2147483647 AS h
  FROM (SELECT doc_id, unnest(toks) AS term FROM toksets)
),
sigs AS MATERIALIZED (
  SELECT doc_id, {_SIG_EXPRS}
  FROM terms GROUP BY doc_id
),
banded AS MATERIALIZED (
{_BAND_SELECTS}
),
cand AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM cand JOIN tsn a ON a.doc_id = doc_a JOIN tsn b ON b.doc_id = doc_b
  WHERE len(list_intersect(a.toks, b.toks)) * {JACCARD_THRESHOLD[1]}
        >= (a.n + b.n - len(list_intersect(a.toks, b.toks))) * {JACCARD_THRESHOLD[0]}
),
-- MATERIALIZED throughout: DuckDB inlines single-reference CTEs, and
-- re-planning this chain per reference cost 18.6s vs 2.3s at sf0.01
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(u, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
),
comp AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)"""

# q32's candidate generation: SimHash per doc, its MAX_HAMMING+1 bands,
# and every same-band pair as `cand` (doc_a, doc_b, ha, hb). Shared by the
# q32 and q214 oracles so their candidate semantics cannot drift.
_SIMHASH_CAND_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> ''
  GROUP BY doc_id, term
),
th AS (SELECT doc_id, tf, {_H} AS h FROM tf),
bits AS (SELECT i AS j FROM generate_series(0, {SIMHASH_BITS - 1}) t(i)),
contrib AS (
  SELECT doc_id, j, tf * (((h >> j) & 1) * 2 - 1) AS v
  FROM th CROSS JOIN bits
),
bitvals AS (
  SELECT doc_id, j, CASE WHEN sum(v) > 0 THEN 1 ELSE 0 END AS bit
  FROM contrib GROUP BY doc_id, j
),
sh AS (
  SELECT doc_id, sum(bit * (1::BIGINT << j))::BIGINT AS simhash
  FROM bitvals GROUP BY doc_id
),
banded AS (
{" UNION ALL ".join(
    f"SELECT doc_id, simhash, {j} AS band, "
    f"(simhash >> {SIMHASH_BAND_LO[j]}) & {(1 << (SIMHASH_BAND_LO[j + 1] - SIMHASH_BAND_LO[j])) - 1} AS band_val FROM sh"
    for j in range(SIMHASH_MAX_HAMMING + 1)
)}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.simhash AS ha, r.simhash AS hb
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.band_val = r.band_val AND l.doc_id < r.doc_id
)"""

ORACLE = {
    "q15_dedup_exact": """
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
g AS (SELECT h, min(doc_id) AS canonical_id, count(*) AS group_size FROM d GROUP BY h)
SELECT doc_id, canonical_id, group_size,
       CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END AS is_dup
FROM d JOIN g USING (h)
ORDER BY doc_id
""",
    "q16_ngram_jaccard": f"""
WITH {_TOKSETS_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (a.n + b.n - len(list_intersect(a.toks, b.toks))), 9) AS jaccard
FROM tsn a JOIN tsn b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.toks, b.toks)) * {JACCARD_THRESHOLD[1]}
      >= (a.n + b.n - len(list_intersect(a.toks, b.toks))) * {JACCARD_THRESHOLD[0]}
ORDER BY doc_a, doc_b
""",
    "q17_minhash_lsh": f"""
WITH {_TOKSETS_CTE},
terms AS (
  SELECT doc_id, {_H} % 2147483647 AS h
  FROM (SELECT doc_id, unnest(toks) AS term FROM toksets)
),
sigs AS (
  SELECT doc_id, {_SIG_EXPRS}
  FROM terms GROUP BY doc_id
),
banded AS (
{_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (a.n + b.n - len(list_intersect(a.toks, b.toks))), 9) AS jaccard
FROM cand JOIN tsn a ON a.doc_id = doc_a JOIN tsn b ON b.doc_id = doc_b
WHERE len(list_intersect(a.toks, b.toks)) * {JACCARD_THRESHOLD[1]}
      >= (a.n + b.n - len(list_intersect(a.toks, b.toks))) * {JACCARD_THRESHOLD[0]}
ORDER BY doc_a, doc_b
""",
    "q18_simhash": f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> ''
  GROUP BY doc_id, term
),
th AS (SELECT doc_id, tf, {_H} AS h FROM tf),
bits AS (SELECT i AS j FROM generate_series(0, {SIMHASH_BITS - 1}) t(i)),
contrib AS (
  SELECT doc_id, j, tf * (((h >> j) & 1) * 2 - 1) AS v
  FROM th CROSS JOIN bits
),
bitvals AS (
  SELECT doc_id, j, CASE WHEN sum(v) > 0 THEN 1 ELSE 0 END AS bit
  FROM contrib GROUP BY doc_id, j
),
sh AS (
  SELECT doc_id, sum(bit * (1::BIGINT << j)) AS simhash
  FROM bitvals GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT))::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
""",
    # q32: banding is lossless for hamming <= SIMHASH_MAX_HAMMING
    # (pigeonhole over MAX_HAMMING+1 bands), so the oracle replicates the
    # banded candidate generation to prove the equi-join path — and a
    # pytest asserts q32 == q18 exactly.
    "q32_simhash_banded": _SIMHASH_CAND_SQL
    + f"""
SELECT doc_a, doc_b, bit_count(xor(ha, hb))::INT AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
""",
    "q33_embedding_neardup_ivf": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ew AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(v)), i -> v[i] * v[i])),
           (acc, x) -> acc + x)) AS nrm
  FROM e
),
cents AS (SELECT vec_id AS cent_id, v AS centv, nrm AS centn
          FROM ew WHERE vec_id % {IVF_CENTROID_MOD} = 0),
asgn AS (
  SELECT vec_id, cent_id,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY list_reduce(list_prepend(0.0,
                      list_transform(generate_series(1, len(v)),
                                     i -> v[i] * centv[i])),
                      (acc, x) -> acc + x) / (nrm * centn) DESC,
                    cent_id ASC) AS r
  FROM ew CROSS JOIN cents
),
assigned AS (SELECT vec_id, cent_id FROM asgn WHERE r <= {NEARDUP_NPROBE}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
),
en AS (
  SELECT vec_id, v,
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(v)), i -> v[i] * v[i])),
           (acc, x) -> acc + x) AS nrm
  FROM e
)
SELECT vec_a, vec_b,
       round(
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
           (acc, x) -> acc + x)
         / sqrt(a.nrm * b.nrm), 9) AS cos
FROM cand JOIN en a ON a.vec_id = vec_a JOIN en b ON b.vec_id = vec_b
WHERE round(
        list_reduce(list_prepend(0.0,
          list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
          (acc, x) -> acc + x)
        / sqrt(a.nrm * b.nrm), 9) >= {EMB_NEARDUP_COS}
ORDER BY vec_a, vec_b
""",
    # q38: same LSH-pair CTE chain as q17, then connected components via a
    # recursive min-label walk — `walk` enumerates (node, reachable label)
    # pairs (UNION dedups, so it terminates), min per node = component id.
    "q38_dup_clusters": f"""
WITH RECURSIVE {_CC_CTES}
SELECT doc_id, cluster_id, cluster_size,
       CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS keep
FROM comp JOIN sizes USING (cluster_id)
ORDER BY doc_id
""",
    "q19_embedding_neardup": f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
en AS (
  SELECT vec_id, v,
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(v)), i -> v[i] * v[i])),
           (acc, x) -> acc + x) AS nrm
  FROM e
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
           (acc, x) -> acc + x)
         / sqrt(a.nrm * b.nrm), 9) AS cos
FROM en a JOIN en b ON a.vec_id < b.vec_id
WHERE round(
        list_reduce(list_prepend(0.0,
          list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
          (acc, x) -> acc + x)
        / sqrt(a.nrm * b.nrm), 9) >= {EMB_NEARDUP_COS}
ORDER BY vec_a, vec_b
""",
    # q54: same DECIMAL(28,12)-partial fold as the Spark side — norms
    # and dots are order-insensitive exact sums, one double sqrt/div.
    "q54_sparse_cosine": f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        FROM documents)
  GROUP BY doc_id, term
),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
w AS (
  SELECT doc_id, term, tf * ln((SELECT n_docs FROM n) / df) AS w
  FROM tf JOIN dfs USING (term)
),
norms AS (
  SELECT doc_id, sqrt(sum(CAST(w * w AS DECIMAL(28,12)))::DOUBLE) AS nrm
  FROM w GROUP BY doc_id
),
inv AS (SELECT term, doc_id, w / nrm AS wn FROM w JOIN norms USING (doc_id))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(sum(CAST(a.wn * b.wn AS DECIMAL(28,12)))::DOUBLE, 9) AS cosine
FROM inv a JOIN inv b ON a.term = b.term AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING round(sum(CAST(a.wn * b.wn AS DECIMAL(28,12)))::DOUBLE, 9)
       >= {SPARSE_COS_THRESHOLD}::DOUBLE
ORDER BY doc_a, doc_b
""",
    # q55: windows via a 1-based list comprehension — identical strings
    # to Spark's concat_ws over slice, so the portable hashes agree.
    "q55_dup_spans": f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
base AS (SELECT doc_id, len(toks) AS n_toks, toks FROM t),
occ AS (
  SELECT doc_id, i AS pos,
         {PORTABLE_HASH_SQL.format(
             c=f"array_to_string(toks[i:i+{SPAN_K - 1}], ' ')")} AS sh
  FROM base, unnest(range(1, greatest(n_toks - {SPAN_K - 1}, 0) + 1)) AS u(i)
),
dup AS (SELECT sh FROM occ GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
docc AS (SELECT occ.* FROM occ JOIN dup USING (sh)),
cover AS (
  SELECT doc_id, count(DISTINCT p) AS dup_tokens
  FROM (SELECT doc_id, unnest(range(pos, pos + {SPAN_K})) AS p FROM docc)
  GROUP BY doc_id
),
ndup AS (SELECT doc_id, count(*) AS n_dup_shingles FROM docc GROUP BY doc_id)
SELECT b.doc_id, b.n_toks,
       greatest(b.n_toks - {SPAN_K - 1}, 0) AS n_shingles,
       coalesce(n.n_dup_shingles, 0) AS n_dup_shingles,
       coalesce(c.dup_tokens, 0) AS dup_tokens,
       round(coalesce(c.dup_tokens, 0)::DOUBLE / b.n_toks, 9) AS dup_frac,
       CASE WHEN coalesce(c.dup_tokens, 0) * {DUP_SPAN_FLAG[1]}
                 >= b.n_toks * {DUP_SPAN_FLAG[0]} THEN 1 ELSE 0 END AS flag_dup
FROM base b
LEFT JOIN ndup n USING (doc_id)
LEFT JOIN cover c USING (doc_id)
ORDER BY doc_id
""",
    # q83: distinct shingle hashes via SELECT DISTINCT over the same
    # 1-based windows as q55; integer threshold compare, unrounded
    # integer-input divisions (bit-identical across engines).
    "q83_shingle_containment": f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
base AS (SELECT doc_id, len(toks) AS n_toks, toks FROM t),
occ AS (
  SELECT DISTINCT doc_id,
         {PORTABLE_HASH_SQL.format(
             c=f"array_to_string(toks[i:i+{CONTAIN_W - 1}], ' ')")} AS sh
  FROM base, unnest(range(1, greatest(n_toks - {CONTAIN_W - 1}, 0) + 1)) AS u(i)
),
dfsh AS (SELECT sh, count(*) AS sdf FROM occ GROUP BY sh),
capped AS (
  SELECT occ.doc_id, occ.sh, dfsh.sdf
  FROM occ JOIN dfsh USING (sh) WHERE sdf <= {CONTAIN_MAX_DF}
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  WHERE a.sdf >= 2
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter, sa.n AS na, sb.n AS nb,
       CAST(inter AS DOUBLE) / sa.n AS cont_a,
       CAST(inter AS DOUBLE) / sb.n AS cont_b
FROM inter
JOIN sizes sa ON sa.doc_id = inter.doc_a
JOIN sizes sb ON sb.doc_id = inter.doc_b
WHERE inter * {CONTAIN_THRESHOLD[1]}
      >= least(sa.n, sb.n) * {CONTAIN_THRESHOLD[0]}
ORDER BY doc_a, doc_b
""",
    # q85: q17's CTE chain (same banding, same integer-verify) feeding a
    # source-labelled pair aggregation.
    "q85_dup_source_matrix": f"""
WITH {_TOKSETS_CTE},
terms AS (
  SELECT doc_id, {_H} % 2147483647 AS h
  FROM (SELECT doc_id, unnest(toks) AS term FROM toksets)
),
sigs AS (
  SELECT doc_id, {_SIG_EXPRS}
  FROM terms GROUP BY doc_id
),
banded AS (
{_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand JOIN tsn a ON a.doc_id = doc_a JOIN tsn b ON b.doc_id = doc_b
  WHERE len(list_intersect(a.toks, b.toks)) * {JACCARD_THRESHOLD[1]}
        >= (a.n + b.n - len(list_intersect(a.toks, b.toks)))
           * {JACCARD_THRESHOLD[0]}
),
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pairs
  JOIN documents da ON da.doc_id = pairs.doc_a
  JOIN documents db ON db.doc_id = pairs.doc_b
),
tot AS (SELECT count(*) AS n_total FROM lab)
SELECT source_a, source_b, count(*) AS n_pairs,
       CAST(count(*) AS DOUBLE) / tot.n_total AS share,
       CASE WHEN source_a = source_b THEN 1 ELSE 0 END AS within
FROM lab CROSS JOIN tot
GROUP BY source_a, source_b, tot.n_total
ORDER BY source_a, source_b
""",
}
# q89: the shared CC chain + q23's quality chain; window over multi-doc
# clusters only.
def _q89_oracle() -> str:
    from .textstats import QUALITY_CTES_SQL, STOPWORDS, _sql_list

    qual = QUALITY_CTES_SQL.format(stops=_sql_list(STOPWORDS)).strip()
    return f"""
WITH RECURSIVE {_CC_CTES},
{qual},
j AS (
  SELECT comp.doc_id, comp.cluster_id, sizes.cluster_size, qual.quality
  FROM comp JOIN sizes USING (cluster_id)
  JOIN qual ON qual.doc_id = comp.doc_id
  WHERE sizes.cluster_size >= 2
)
SELECT cluster_id, doc_id AS canonical_doc, quality AS canonical_quality,
       cluster_size, cluster_size - 1 AS n_pruned
FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
        ORDER BY quality DESC, doc_id ASC) AS r FROM j)
WHERE r = 1 ORDER BY cluster_id
"""


ORACLE["q89_canonical_rep"] = _q89_oracle()

# q98: identical raw-URL synthesis (doc_id // 3 groups, doc_id % 3
# variants) and the same 5-step canonicalization chain, spelled with
# DuckDB's regexp_replace/replace (each pattern matches at most once, so
# first-match vs global replace semantics cannot diverge).
ORACLE["q98_url_dedup"] = f"""
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % {URLDEDUP_FANOUT}
           WHEN 0 THEN 'HTTPS://Site' || ((doc_id // 3) % 7)::VARCHAR
                    || '.Example/docs/' || (doc_id // 3)::VARCHAR || '/'
           WHEN 1 THEN 'https://site' || ((doc_id // 3) % 7)::VARCHAR
                    || '.example:443/docs/' || (doc_id // 3)::VARCHAR
                    || '?utm_source=rss&utm_medium=feed'
           ELSE 'http://site' || ((doc_id // 3) % 7)::VARCHAR
                    || '.example/docs/' || (doc_id // 3)::VARCHAR || '#frag'
         END AS raw_url
  FROM documents
),
canon AS (
  SELECT doc_id, raw_url,
         regexp_replace(
           replace(
             regexp_replace(lower(regexp_replace(raw_url, '[?#].*$', '')),
                            '^http://', 'https://'),
             ':443', ''),
           '/$', '') AS canonical_url
  FROM raw
),
g AS (SELECT canonical_url, min(doc_id) AS canonical_id,
             count(*) AS group_size
      FROM canon GROUP BY 1)
SELECT doc_id, raw_url, canonical_url, canonical_id, group_size,
       (doc_id <> canonical_id)::INT AS is_dup
FROM canon JOIN g USING (canonical_url) ORDER BY doc_id
"""

# q99: same prefix-hash bucketing (md5 of the first PREFIX_KEY_CHARS
# chars), same [2, PREFIX_BUCKET_CAP] bucket gate, same startswith
# verification with the length-ordered tie (equal lengths verify as
# a_prefix_of_b, matching the Spark when-chain order).
ORACLE["q99_prefix_dedup"] = f"""
WITH d AS (
  SELECT doc_id, text, md5(substr(text, 1, {PREFIX_KEY_CHARS})) AS k,
         length(text)::INT AS ln
  FROM documents
),
ok AS (SELECT k FROM d GROUP BY k
       HAVING count(*) BETWEEN 2 AND {PREFIX_BUCKET_CAP}),
dd AS (SELECT d.* FROM d JOIN ok USING (k))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ln AS len_a, b.ln AS len_b,
       CASE WHEN a.ln <= b.ln AND starts_with(b.text, a.text)
              THEN 'a_prefix_of_b'
            WHEN a.ln > b.ln AND starts_with(a.text, b.text)
              THEN 'b_prefix_of_a' END AS kind
FROM dd a JOIN dd b ON a.k = b.k AND a.doc_id < b.doc_id
WHERE (a.ln <= b.ln AND starts_with(b.text, a.text))
   OR (a.ln > b.ln AND starts_with(a.text, b.text))
ORDER BY doc_a, doc_b
"""

# q106: q55's occ/dup/covered CTEs, then gaps-and-islands — island id
# = p - row_number(p within doc); extents are (min, max, count) per
# island. Pure integer math throughout.
ORACLE["q106_dup_span_extents"] = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
base AS (SELECT doc_id, len(toks) AS n_toks, toks FROM t),
occ AS (
  SELECT doc_id, i AS pos,
         {PORTABLE_HASH_SQL.format(
             c=f"array_to_string(toks[i:i+{SPAN_K - 1}], ' ')")} AS sh
  FROM base, unnest(range(1, greatest(n_toks - {SPAN_K - 1}, 0) + 1)) AS u(i)
),
dup AS (SELECT sh FROM occ GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
covered AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT doc_id, unnest(range(pos, pos + {SPAN_K})) AS p
        FROM occ JOIN dup USING (sh))
),
isl AS (
  SELECT doc_id, p,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM covered
)
SELECT doc_id, min(p)::BIGINT AS span_start, max(p)::BIGINT AS span_end,
       count(*)::BIGINT AS span_len
FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start
"""


# --------------------------------------------------------------------------
# q120: source-overlap matrix via one-permutation MinHash (OPH) — the
# SKETCH-path complement to q85's exact LSH dup-leakage matrix: instead
# of materializing near-dup PAIRS (|pairs| can be huge when two feeds
# share a scrape), estimate the shingle-set Jaccard between every pair
# of sources from a fixed-size per-source signature. One permutation,
# OVERLAP_BUCKETS buckets keyed by sh % B, signature = min(sh) per
# (source, bucket) [Li/Owen/Zhang, "One Permutation Hashing", NIPS'12].
# J(a,b) is estimated by the match rate of bucket minima over co-filled
# buckets.
#
# Scale shape — this is the part q85 can't do at 100 TB: the signature
# is a partial-aggregable MIN (map-side combine collapses each input
# split to <= |sources|*B rows before the shuffle), so the full corpus
# reduces to a |sources|*B-row table in one pass with no window, no
# distinct, and no pair materialization; the pair join is then
# signature×signature on the bucket index — O(|sources|^2 * B) rows,
# constant in corpus size. Estimator variance ~ 1/sqrt(B): B=128 gives
# ±~9% absolute, plenty for a copy-which-feed diagnostic (pytest bounds
# it against exact Jaccard).
# --------------------------------------------------------------------------

OVERLAP_W = 5  # shingle width (tokens)
OVERLAP_BUCKETS = 128


def source_shingle_occ(docs: DataFrame) -> DataFrame:
    """(source, sh) one row per OVERLAP_W-token window. Duplicates are
    harmless downstream (MIN is idempotent), so no distinct."""
    w = OVERLAP_W
    base = docs.select(
        "source",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("toks"),
    ).withColumn("n_toks", F.size("toks"))
    sh_arr = F.when(
        F.col("n_toks") >= w,
        F.transform(
            F.sequence(F.lit(1), F.col("n_toks") - w + 1),
            lambda i: portable_hash(F.concat_ws(" ", F.slice("toks", i, w))),
        ),
    ).otherwise(F.expr("array()").cast("array<long>"))
    return base.select("source", F.explode(sh_arr).alias("sh"))


def source_signatures(docs: DataFrame) -> DataFrame:
    """(source, bucket, mn): the OPH signature — min hash per bucket."""
    return (
        source_shingle_occ(docs)
        .groupBy("source", (F.col("sh") % OVERLAP_BUCKETS).alias("bucket"))
        .agg(F.min("sh").alias("mn"))
    )


def q120_source_overlap_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = source_signatures(load_docs(spark, sf_dir))
    a = sig.select(
        F.col("source").alias("source_a"), "bucket", F.col("mn").alias("mn_a")
    )
    b = sig.select(
        F.col("source").alias("source_b"), "bucket", F.col("mn").alias("mn_b")
    )
    est = (
        # |sources|*B rows per side — pin the broadcast
        a.join(F.broadcast(b), "bucket")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum((F.col("mn_a") == F.col("mn_b")).cast("long")).alias(
                "n_match"
            ),
        )
        .select(
            "source_a",
            "source_b",
            "n_buckets",
            "n_match",
            # same integer inputs + one IEEE division on both engines ->
            # bit-identical; per CLAUDE.md, no round() on top
            (F.col("n_match").cast("double") / F.col("n_buckets")).alias(
                "jaccard_est"
            ),
        )
        .orderBy("source_a", "source_b")
    )
    return est


QUERIES["q120_source_overlap_oph"] = q120_source_overlap_oph

ORACLE["q120_source_overlap_oph"] = f"""
WITH t AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
base AS (SELECT source, len(toks) AS n_toks, toks FROM t),
occ AS (
  SELECT source,
         {PORTABLE_HASH_SQL.format(
             c=f"array_to_string(toks[i:i+{OVERLAP_W - 1}], ' ')")} AS sh
  FROM base, unnest(range(1, greatest(n_toks - {OVERLAP_W - 1}, 0) + 1)) AS u(i)
),
sig AS (
  SELECT source, sh % {OVERLAP_BUCKETS} AS bucket, min(sh) AS mn
  FROM occ GROUP BY source, bucket
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_buckets,
       sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END)::BIGINT AS n_match,
       sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END)::BIGINT::DOUBLE / count(*)
         AS jaccard_est
FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b
"""


# --------------------------------------------------------------------------
# q123: leakage-safe train/val/test split — the assignment a training
# pipeline must make AFTER dedup, not before: hash-splitting doc_ids
# leaks near-duplicates across train/test (the classic contamination
# bug q41 decontaminates against external eval sets, but intra-corpus
# near-dup leakage needs the split itself keyed on the DUP CLUSTER).
# Split = portable_hash(cluster_id) % 10 -> 8/1/1 train/val/test, so
# every member of a near-dup cluster (q38's connected components over
# the LSH pair graph) lands in the SAME split by construction.
#
# Scale shape: q38's CC labels (int64 rows, pointer-doubling) join
# doc-keyed against a 2-column documents projection; the split is a
# map-only expression on the label — no extra shuffle beyond q38
# itself. Output is the per-doc assignment (the artifact a pipeline
# writes back as a partition column).
# --------------------------------------------------------------------------

SPLIT_MOD = 10
SPLIT_TRAIN_LT = 8  # h < 8 train, h = 8 val, h = 9 test


def q123_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = q38_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_docs(spark, sf_dir).select("doc_id", "source")
    h = portable_hash(F.col("cluster_id").cast("string")) % SPLIT_MOD
    return (
        cc.join(docs, "doc_id")
        .select(
            "doc_id",
            "source",
            "cluster_id",
            F.when(h < SPLIT_TRAIN_LT, "train")
            .when(h == SPLIT_TRAIN_LT, "val")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


QUERIES["q123_leakage_safe_split"] = q123_leakage_safe_split

ORACLE["q123_leakage_safe_split"] = f"""
WITH RECURSIVE {_CC_CTES},
asg AS (
  SELECT d.doc_id, d.source, c.cluster_id,
         {PORTABLE_HASH_SQL.format(c="c.cluster_id::VARCHAR")}
           % {SPLIT_MOD} AS h
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT doc_id, source, cluster_id,
       CASE WHEN h < {SPLIT_TRAIN_LT} THEN 'train'
            WHEN h = {SPLIT_TRAIN_LT} THEN 'val'
            ELSE 'test' END AS split
FROM asg ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# q132: MinHash-LSH banding audit — precision/recall of the banded
# candidate generation against the exhaustive Jaccard truth set (the
# dedup family's q124: before trusting the scale path on a new corpus,
# measure what the banding misses). FN are true near-dup pairs whose
# signatures never share a band (MinHash is probabilistic — unlike
# q32's pigeonhole banding there is NO losslessness guarantee to lean
# on); FP here counts candidate pairs below the Jaccard threshold,
# i.e. the wasted exact-verify work, since q17's verify stage removes
# them from the final answer. Output is ONE row of exact int64 counts
# plus precision/recall as single IEEE divisions.
#
# The truth side is the O(n²) exhaustive comparison, so this is an
# AUDIT entry (sampled corpus / acceptance gate), size-guarded like
# q16/q18/q19 — production dedup runs q17 unaudited once accepted.
# --------------------------------------------------------------------------


def q132_lsh_audit(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int | None = EXHAUSTIVE_MAX_DOCS,
) -> DataFrame:
    _guard_exhaustive(
        load_docs(spark, sf_dir).count(),
        "q132_lsh_audit", "q17_minhash_lsh (unaudited)", max_docs,
    )
    truth = q16_ngram_jaccard(spark, sf_dir, max_docs=None).select(
        "doc_a", "doc_b", F.lit(1).alias("t")
    )
    cand = lsh_candidates(spark, sf_dir).withColumn("c", F.lit(1))
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.sum(F.coalesce(F.col("t"), F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("n_cand"),
        F.sum(
            (F.col("t").isNotNull() & F.col("c").isNotNull()).cast("int")
        ).cast("long").alias("tp"),
        F.sum(
            (F.col("t").isNull() & F.col("c").isNotNull()).cast("int")
        ).cast("long").alias("fp"),
        F.sum(
            (F.col("t").isNotNull() & F.col("c").isNull()).cast("int")
        ).cast("long").alias("fn"),
    )
    return agg.select(
        "n_truth",
        "n_cand",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("n_cand") > 0,
            F.col("tp").cast("double") / F.col("n_cand").cast("double"),
        ).alias("precision"),
        F.when(
            F.col("n_truth") > 0,
            F.col("tp").cast("double") / F.col("n_truth").cast("double"),
        ).alias("recall"),
    )


QUERIES["q132_lsh_audit"] = q132_lsh_audit

ORACLE["q132_lsh_audit"] = f"""
WITH {_TOKSETS_CTE},
truth AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM tsn a JOIN tsn b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.toks, b.toks)) * {JACCARD_THRESHOLD[1]}
        >= (a.n + b.n - len(list_intersect(a.toks, b.toks))) * {JACCARD_THRESHOLD[0]}
),
terms AS (
  SELECT doc_id, {_H} % 2147483647 AS h
  FROM (SELECT doc_id, unnest(toks) AS term FROM toksets)
),
sigs AS (
  SELECT doc_id, {_SIG_EXPRS}
  FROM terms GROUP BY doc_id
),
banded AS (
{_BAND_SELECTS}
),
cand AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
j AS (
  SELECT coalesce(t.t, 0) AS t, coalesce(c.c, 0) AS c
  FROM (SELECT doc_a, doc_b, 1 AS t FROM truth) t
  FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS c FROM cand) c
    USING (doc_a, doc_b)
),
a AS (
  SELECT sum(t)::BIGINT AS n_truth, sum(c)::BIGINT AS n_cand,
         sum(t * c)::BIGINT AS tp,
         sum(CASE WHEN t = 0 AND c = 1 THEN 1 ELSE 0 END)::BIGINT AS fp,
         sum(CASE WHEN t = 1 AND c = 0 THEN 1 ELSE 0 END)::BIGINT AS fn
  FROM j
)
SELECT n_truth, n_cand, tp, fp, fn,
       CASE WHEN n_cand > 0
            THEN tp::DOUBLE / n_cand::DOUBLE END AS precision,
       CASE WHEN n_truth > 0
            THEN tp::DOUBLE / n_truth::DOUBLE END AS recall
FROM a
"""


# --------------------------------------------------------------------------
# q150: intra- vs cross-source duplication split — the diagnostic a
# curation pipeline runs before choosing a dedup policy: duplication
# WITHIN a source is usually boilerplate/templating (fix the
# extractor), duplication ACROSS sources is syndication/mirroring (fix
# with corpus-level dedup like q15/q38), and the per-source split says
# which lever moves which feed. Rides q15's exact-hash grouping.
#
# Scale shape: one map-only md5 pass, ONE (hash)-keyed hash agg for
# the group census (never shuffles text), one (hash) equi-join back,
# one (source)-keyed rollup — all exact int64 counts, output
# |sources| rows, bit-identical at any parallelism. The share columns
# are identical IEEE division trees, emitted UNROUNDED.
# --------------------------------------------------------------------------


def q150_source_dup_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    groups = docs.groupBy("h").agg(
        F.count("*").cast("long").alias("n_total"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    j = docs.join(groups, "h")
    g = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_total") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup"),
        F.sum(
            F.when(
                (F.col("n_total") > 1) & (F.col("n_sources") == 1), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_intra"),
        F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_cross"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_dup",
        "n_intra",
        "n_cross",
        (F.col("n_dup").cast("double") / F.col("n_docs").cast("double"))
        .alias("dup_share"),
        (F.col("n_cross").cast("double") / F.col("n_docs").cast("double"))
        .alias("cross_share"),
    ).orderBy("source")


QUERIES["q150_source_dup_split"] = q150_source_dup_split

ORACLE["q150_source_dup_split"] = """
WITH d AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
),
grp AS (
  SELECT h, count(*)::BIGINT AS n_total,
         count(DISTINCT source)::BIGINT AS n_sources
  FROM d GROUP BY h
),
j AS (SELECT d.source, grp.n_total, grp.n_sources FROM d JOIN grp USING (h)),
g AS (
  SELECT source,
         count(*)::BIGINT AS n_docs,
         sum(CASE WHEN n_total > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
         sum(CASE WHEN n_total > 1 AND n_sources = 1
                  THEN 1 ELSE 0 END)::BIGINT AS n_intra,
         sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END)::BIGINT AS n_cross
  FROM j GROUP BY source
)
SELECT source, n_docs, n_dup, n_intra, n_cross,
       CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_share,
       CAST(n_cross AS DOUBLE) / CAST(n_docs AS DOUBLE) AS cross_share
FROM g ORDER BY source
"""


# --------------------------------------------------------------------------
# q172: LSH banding parameter planner — the S-curve table an engineer
# reads before picking (bands, rows) for q17/q120: for every (b, r)
# split of the signature budget and a grid of Jaccard levels s, the
# collision probability p = 1 − (1 − s^r)^b, the threshold
# t ≈ (1/b)^(1/r) where the curve crosses ~50%, and the false-
# positive/negative mass proxies at the design similarity. This is
# q132's audit turned forward: q132 measures what a banding DID, q172
# predicts what a banding WILL do — both must exist for a dedup
# platform to be operable.
#
# Scale shape: a pure literal-grid computation — |splits|·|levels|
# rows of closed-form IEEE arithmetic, zero data reads, zero
# shuffles (the plan is a LocalTableScan + Project). pow() is NOT
# correctly rounded and differs by 1 ulp between the JVM and libm, so
# the published curve is rounded to 9dp on both engines — safe here
# (and only here) because the grid is a FIXED literal: the 45 rounded
# values are pinned by the gate once and can never drift with data.
# The threshold comparison uses the ROUNDED threshold for the same
# reason.
# --------------------------------------------------------------------------

LSH_PLAN_BUDGET = 16  # signature budget to split (b·r = budget)
LSH_PLAN_SPLITS = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]
LSH_PLAN_LEVELS = [x / 10.0 for x in range(1, 10)]  # s = 0.1 .. 0.9


def q172_lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.createDataFrame(
        [
            (b, r, s)
            for (b, r) in LSH_PLAN_SPLITS
            for s in LSH_PLAN_LEVELS
        ],
        "bands int, rows int, s double",
    )
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("s"), F.col("rows").cast("double")),
        F.col("bands").cast("double"),
    )
    thresh = F.pow(
        F.lit(1.0) / F.col("bands").cast("double"),
        F.lit(1.0) / F.col("rows").cast("double"),
    )
    return grid.select(
        "bands",
        "rows",
        "s",
        F.round(p, 9).alias("p_collide"),
        F.round(thresh, 9).alias("threshold"),
        (F.col("s") >= F.round(thresh, 9)).alias("above_threshold"),
    ).orderBy("bands", "rows", "s")


QUERIES["q172_lsh_planner"] = q172_lsh_planner

_LSH_GRID_SQL = ", ".join(
    f"({b}, {r}, {s!r}::DOUBLE)"
    for (b, r) in LSH_PLAN_SPLITS
    for s in LSH_PLAN_LEVELS
)

ORACLE["q172_lsh_planner"] = f"""
WITH grid(bands, rows, s) AS (VALUES {_LSH_GRID_SQL})
SELECT bands::INT AS bands, rows::INT AS rows, s,
       round(1.0::DOUBLE - pow(1.0::DOUBLE - pow(s, CAST(rows AS DOUBLE)),
                               CAST(bands AS DOUBLE)), 9) AS p_collide,
       round(pow(1.0::DOUBLE / CAST(bands AS DOUBLE),
                 1.0::DOUBLE / CAST(rows AS DOUBLE)), 9) AS threshold,
       s >= round(pow(1.0::DOUBLE / CAST(bands AS DOUBLE),
                      1.0::DOUBLE / CAST(rows AS DOUBLE)), 9)
         AS above_threshold
FROM grid
ORDER BY bands, rows, s
"""


# --------------------------------------------------------------------------
# q183: winnowing near-dup pairs — the POSITIONAL-evidence member of
# the dedup family (q17 MinHash = set overlap, q55/q106 = exact span
# repeats, q183 = guaranteed-coverage local fingerprints): doc pairs
# sharing ≥ WNP_MIN selected winnowing fingerprints (q161's
# selection), with stop-fingerprints df-capped so boilerplate every
# doc shares cannot go quadratic (q83's stop-shingle argument). The
# batch twin of streaming/fingerprints.read_shared_pairs — this
# entry puts the pair semantics under the DuckDB oracle.
#
# Scale shape: q161's map-only selection, one (fp) df census, an
# equi-join on the 26-bit fingerprint hash bounded by the df cap,
# one (a,b) hash agg. Exact int64 counts; ordering total.
# --------------------------------------------------------------------------

WNP_MIN = 2
WNP_MAX_DF = 64
WNP_TOP = 200


def q183_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipelines.textstats import (
        WIN_POS_BITS,
        load_docs as _ld,
        winnow_parts,
    )

    _nk, sel = winnow_parts(_ld(spark, sf_dir))
    fp = sel.select(
        "doc_id", F.shiftright("selkey", WIN_POS_BITS).alias("fp")
    ).distinct()
    dfc = fp.groupBy("fp").agg(F.count("*").alias("df"))
    live = fp.join(
        F.broadcast(dfc.filter(F.col("df") <= WNP_MAX_DF)), "fp"
    )
    a = live.select(F.col("doc_id").alias("doc_a"), "fp")
    b = live.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WNP_MIN)
        .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
        .limit(WNP_TOP)
    )


QUERIES["q183_winnow_pairs"] = q183_winnow_pairs

# q183's oracle interpolates q161's CTE text, which references these
# names — import them under the SAME names the CTE uses, pinned to the
# textstats values (CLAUDE.md module-constant rule: these are aliases,
# never redefinitions; grep before adding same-named constants here).
from .textstats import FP_BASE, FP_MOD, WIN_K, WIN_POS_BITS, WIN_W  # noqa: E402,F401


ORACLE["q183_winnow_pairs"] = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
tp AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM d
),
tok AS (
  SELECT doc_id, pos - 1 AS pos,
         ('0x' || substr(md5(toks[pos]), 1, 15))::BIGINT % {FP_MOD} AS th
  FROM tp
),
kg AS (
  SELECT doc_id, pos,
         ((th * {FP_BASE} + lead(th, 1) OVER w) % {FP_MOD}
          * {FP_BASE} + lead(th, 2) OVER w) % {FP_MOD} AS kh
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
kg2 AS (SELECT * FROM kg WHERE kh IS NOT NULL),
nk AS (
  SELECT doc_id, count(*)::BIGINT AS n_kgrams FROM kg2 GROUP BY doc_id
),
sel AS (
  SELECT doc_id, pos,
         min(kh * {1 << WIN_POS_BITS}
             + ({(1 << WIN_POS_BITS) - 1} - pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING)
           AS selkey
  FROM kg2
),
sel2 AS (
  SELECT DISTINCT s.doc_id, s.selkey
  FROM sel s JOIN nk ON s.doc_id = nk.doc_id
  WHERE s.pos <= nk.n_kgrams - {WIN_W}
),
cnt AS (
  SELECT doc_id, count(*)::BIGINT AS n_selected FROM sel2 GROUP BY doc_id
),
fp AS (
  SELECT DISTINCT doc_id, selkey // {1 << WIN_POS_BITS} AS fp FROM sel2
),
dfc AS (SELECT fp, count(*)::BIGINT AS df FROM fp GROUP BY fp),
live AS (
  SELECT f.doc_id, f.fp FROM fp f JOIN dfc ON f.fp = dfc.fp
  WHERE dfc.df <= {WNP_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*)::BIGINT AS n_shared
FROM live a JOIN live b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WNP_MIN}
ORDER BY n_shared DESC, doc_a, doc_b
LIMIT {WNP_TOP}
"""


# --------------------------------------------------------------------------
# q214: SimHash hamming-distance histogram — the threshold-design
# audit for q18/q32: the banded scale path (q32) is lossless only for
# hamming ≤ its pigeonhole bound, so the DISTRIBUTION of pairwise
# distances among banding CANDIDATES tells you whether the bound sits
# in the valley between the near-dup mode and the random-pair mode
# (64-bit simhash of random docs concentrates near 32). Histogram
# over the q32 candidate pairs, with the q32 threshold marked per
# bucket.
#
# Determinism: signatures are q18's exact integer simhash; popcount
# via bit_count on the XOR — exact int64; histogram = one (distance)
# census. Scale shape: candidates come from q32's 7-band pigeonhole
# equi-join (never all pairs); the histogram is ≤ 65 rows.
# --------------------------------------------------------------------------


def q214_simhash_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sh = simhash_docs(spark, sf_dir)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                (
                    F.shiftright("simhash", SIMHASH_BAND_LO[j]).bitwiseAND(
                        F.lit((1 << (SIMHASH_BAND_LO[j + 1]
                                     - SIMHASH_BAND_LO[j])) - 1)
                    )
                ).alias("band_val"),
            )
            for j in range(SIMHASH_MAX_HAMMING + 1)
        ]
    )
    banded = sh.select(
        "doc_id", "simhash", F.explode(band_structs).alias("bv")
    ).select(
        "doc_id",
        "simhash",
        F.col("bv.band").alias("band"),
        F.col("bv.band_val").alias("band_val"),
    )
    l = banded.select(
        "band", "band_val", F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("ha"),
    )
    r = banded.select(
        "band", "band_val", F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("hb"),
    )
    dist = (
        l.join(r, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
        .select(
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("int")
            .alias("hamming")
        )
    )
    tot = F.broadcast(
        dist.groupBy().agg(F.count("*").cast("long").alias("n_pairs"))
    )
    return (
        dist.groupBy("hamming")
        .agg(F.count("*").cast("long").alias("n"))
        .crossJoin(tot)
        .select(
            "hamming",
            "n",
            (
                F.col("n").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("share"),
            (F.col("hamming") <= SIMHASH_MAX_HAMMING).alias(
                "within_banded_bound"
            ),
        )
        .orderBy("hamming")
    )


QUERIES["q214_simhash_histogram"] = q214_simhash_histogram

# q214 oracle: q32's candidate pairs, then the distance census.
ORACLE["q214_simhash_histogram"] = (
    _SIMHASH_CAND_SQL
    + f""",
dist AS (
  SELECT bit_count(xor(ha, hb))::INT AS hamming FROM cand
),
tot AS (SELECT count(*)::BIGINT AS n_pairs FROM dist)
SELECT hamming, count(*)::BIGINT AS n,
       CAST(count(*) AS DOUBLE) / CAST(max(tot.n_pairs) AS DOUBLE)
         AS share,
       hamming <= {SIMHASH_MAX_HAMMING} AS within_banded_bound
FROM dist, tot
GROUP BY hamming
ORDER BY hamming
"""
)
