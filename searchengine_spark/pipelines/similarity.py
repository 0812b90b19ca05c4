"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

* q20 — brute-force cosine top-k: the correctness baseline. Queries are
  broadcast; candidates stream through a single projection+window. At
  100 TB this is one pass over the candidate set per query batch —
  embarrassingly parallel, no shuffle until the final per-query top-k.
* q21 — IVF-probed ANN: the scale path. A small deterministic centroid
  set is broadcast; every candidate is assigned to its nearest centroid
  (one map-side pass — this is the "index build"); each query probes
  only its IVF_NPROBE nearest centroid cells, so the scored candidate
  set shrinks by ~n_centroids/nprobe. Both stages are pure JVM
  expressions (zip_with/aggregate dot products in float64) — no Python.

Determinism: dots fold left-to-right in double; ties break vec_id ASC;
assignment ties break centroid_id ASC. Both entries carry full DuckDB
oracles (same fold order via list_reduce).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import _tables

N_QUERIES = 10        # vec_id < 10 are the query vectors
TOP_K = 10
IVF_CENTROID_MOD = 50  # vec_id % 50 == 0 -> centroid set (deterministic)
IVF_NPROBE = 3


EMB_DIM = 64  # fixture embedding width (driver tables + scale corpora)


def _dot(a: Column, b: Column) -> Column:
    # HOF fold, deliberately: an unrolled 64-term element_at chain was
    # MEASURED SLOWER (q21 50k-doc assignment 58 s -> 154 s — the giant
    # expression falls out of compact codegen, while zip_with/aggregate
    # evaluates on specialized ArrayData loops). The flat-assignment
    # pair count, not the per-pair dot, is the scale lever — that is
    # q104's two-level design (2.1x at 10x data vs flat's ~30x on the
    # same corpus).
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def load_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def topn_assign(
    scored: DataFrame,
    key,
    id_col: str,
    payload_src: DataFrame,
    n: int = 1,
    self_col=None,
) -> DataFrame:
    """Top-n nearest cells per ``key`` (by sim DESC, id ASC; optional
    route-to-self first) as a HASH aggregation, not a sort.

    The obvious forms both sort the full |rows|×|cells| pair table:
    a ``row_number()`` window sorts each partition, and
    ``max(struct(...))`` is no better — struct-typed buffers are not
    hash-aggregable, so Catalyst compiles it to SortAggregate
    (measured: 55 s of q21's 57 s at 20k vectors × 400 cells was that
    sort). ``collect_list`` is a TypedImperativeAggregate, so this
    compiles to ObjectHashAggregateExec: per-group buffers of SMALL
    (sim, id) structs — never the vectors — sorted per group
    (|cells| elements) and sliced. Payload (the vectors) rejoins from
    ``payload_src`` (the pre-pair table, one row per key) on ``key``:
    an n-row hash join, so the wide arrays cross no sort and at most
    one exchange. Ascending (-sim, id) equals (sim DESC, id ASC)
    exactly — negation maps the double total order antimonotonically
    (no NaNs here); ids are unique per key, so the order is total."""
    keys = [key] if isinstance(key, str) else list(key)
    sim = F.col("sim")
    if self_col is not None:
        # a self-route outranks every other cell: sims are cosines in
        # [-1, 1], so +2 lifts the (single) self row above all others
        # without perturbing comparisons among non-self rows
        sim = F.when(self_col, F.lit(2.0) + sim).otherwise(sim)
    top = scored.groupBy(*keys).agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct((-sim).alias("ns"), F.col(id_col).alias("i"))
                )
            ),
            1,
            n,
        ).alias("_top")
    )
    ids = top.select(
        *[F.col(k) for k in keys],
        F.explode("_top").alias("_t"),
    ).select(*[F.col(k) for k in keys], F.col("_t.i").alias(id_col))
    return payload_src.join(ids, keys)


def argmax_assign(
    scored: DataFrame,
    key,
    id_col: str,
    payload_src: DataFrame,
    self_col=None,
) -> DataFrame:
    """Nearest-cell argmax — :func:`topn_assign` with n=1."""
    return topn_assign(
        scored, key, id_col, payload_src, n=1, self_col=self_col
    )


def q20_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_norm(load_emb(spark, sf_dir))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cos", F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 9)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cos")
        .orderBy("query_id", "rank")
    )


def q21_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_ivf(spark, sf_dir, IVF_NPROBE)


def ann_ivf(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> DataFrame:
    """q21's IVF top-k with a parametrized probe width (q206 sweeps
    it; q21 pins the default)."""
    e = _with_norm(load_emb(spark, sf_dir))
    cents = e.filter(F.pmod("vec_id", F.lit(IVF_CENTROID_MOD)) == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("centv"), F.col("nrm").alias("centn")
    )
    # assign every candidate to its nearest centroid (map-side: broadcast)
    cand = e.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    asgn_scored = cand.crossJoin(F.broadcast(cents)).withColumn(
        "sim", _dot(F.col("cv"), F.col("centv")) / (F.col("cn") * F.col("centn"))
    )
    assigned = argmax_assign(asgn_scored, "vec_id", "cent_id", cand)
    # probe: each query scores only its IVF_NPROBE nearest cells
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    probe_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "sim", _dot(F.col("qv"), F.col("centv")) / (F.col("qn") * F.col("centn"))
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    probes = (
        probe_scored.withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qv", "qn", "cent_id")
    )
    scored = assigned.join(probes, "cent_id").withColumn(
        "cos", F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 9)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cos")
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# q110: FILTERED ANN — vector top-k under a metadata predicate (here:
# candidate label must equal the query's label), the retrieval shape
# every production vector store serves ("nearest docs WHERE source=X /
# lang=en / date>cutoff"). Post-filtering a plain top-k silently
# starves selective predicates, so this is the PRE-FILTER design: the
# predicate joins into the cell probe itself (candidates that fail it
# are never scored) and the probe widens from IVF_NPROBE to
# FILTERED_NPROBE cells — the standard compensation for the recall a
# filter removes from each cell.
#
# Scale shape: q21's broadcast-centroid assignment unchanged; the
# probe join keys on (cent_id, label) — the filter column rides the
# existing shuffle key, adding selectivity, not a new exchange. On a
# real store with a constant predicate the filter would instead push
# into the parquet scan (see q72); the per-query-label form here is
# the harder, join-keyed case.
# --------------------------------------------------------------------------

FILTERED_NPROBE = 5  # wider than IVF_NPROBE: filters thin each cell


def q110_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_norm(load_emb(spark, sf_dir))
    cents = e.filter(F.pmod("vec_id", F.lit(IVF_CENTROID_MOD)) == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("centv"),
        F.col("nrm").alias("centn"),
    )
    cand = e.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", "label", F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    asgn_scored = cand.crossJoin(F.broadcast(cents)).withColumn(
        "sim", _dot(F.col("cv"), F.col("centv")) / (F.col("cn") * F.col("centn"))
    )
    assigned = argmax_assign(asgn_scored, "vec_id", "cent_id", cand)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    probe_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "sim", _dot(F.col("qv"), F.col("centv")) / (F.col("qn") * F.col("centn"))
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    probes = (
        probe_scored.withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= FILTERED_NPROBE)
        .select("query_id", "label", "qv", "qn", "cent_id")
    )
    scored = assigned.join(probes, ["cent_id", "label"]).withColumn(
        "cos",
        F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 9),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "label", "rank", "vec_id", "cos")
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# q115: embedding class-cohesion audit — per label, the centroid (the
# exact per-dim mean) and the intra-class cosine dispersion (mean and
# worst cosine of members to their centroid). This is the
# embedding-space quality check a pipeline runs on its labels /
# clusters: a label whose mean cosine sags or whose min collapses is
# mislabeled data or a collapsed embedding space — caught BEFORE that
# space feeds SemDeDup (q87) or filtered ANN (q110).
#
# Scale shape: centroid = ONE (label, dim) hash agg over the exploded
# dims with DECIMAL(28,12) partial sums (q43's Lloyd-update discipline
# — order-insensitive, bit-stable at any parallelism), rounded 9dp;
# the |labels|-row centroid table broadcasts back over one pruned
# embeddings scan for the cosine pass; the rollup is |labels| rows.
# --------------------------------------------------------------------------


def q115_class_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_norm(load_emb(spark, sf_dir))
    dims = e.select("label", F.posexplode("v").alias("pos", "x")).select(
        "label", (F.col("pos") + 1).alias("dim"), "x"
    )
    m = dims.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
            / F.count("*"),
            9,
        ).alias("mval")
    )
    cents = m.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mval"))),
            lambda s: s["mval"],
        ).alias("cv")
    )
    cn = cents.withColumn("cnrm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    cos = e.join(F.broadcast(cn), "label").select(
        "label",
        F.round(
            _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")),
            9,
        ).alias("c"),
    )
    return (
        cos.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.col("c").cast("decimal(28,12)")).cast("double")
                / F.count("*"),
                9,
            ).alias("mean_cos"),
            F.min("c").alias("min_cos"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q43: distributed k-means training for the IVF cells — KMEANS_ITER
# Lloyd rounds over the candidate vectors, cosine assignment (q21's
# metric). Because cosine ignores centroid magnitude, the plain
# element-wise mean update is exactly the SPHERICAL k-means update (the
# mean's direction == the normalized mean). Scale shape per round: one
# broadcast of k centroids + one corpus scan (map-side assignment), then
# ONE shuffle on (cent_id, dim) with map-side partial sums — the
# textbook distributed Lloyd. Means are summed in DECIMAL(28,12) so the
# reduction is order-insensitive (bit-stable at any parallelism) and
# rounded to 9dp before feeding the next round, keeping both engines'
# doubles identical. At 100 TB you train on a uniform sample (the
# assignment scan dominates; the update shuffle is k*dims rows).
# --------------------------------------------------------------------------

KMEANS_ITER = 3


def _lloyd(e: DataFrame):
    """KMEANS_ITER rounds of spherical Lloyd over ``e`` (vec_id, v).
    Returns (last-round per-dim means DF, trained centroids DF)."""
    cents = e.filter(F.pmod("vec_id", F.lit(IVF_CENTROID_MOD)) == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    m = None
    for _ in range(KMEANS_ITER):
        cn = cents.withColumn("centn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
        vn = e.withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))
        scored = vn.crossJoin(F.broadcast(cn)).withColumn(
            "sim",
            _dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("centn")),
        )
        assigned = argmax_assign(
            scored, "vec_id", "cent_id", e.select("vec_id", "v")
        )
        dims = assigned.select(
            "cent_id", F.posexplode("v").alias("pos", "x")
        ).select("cent_id", (F.col("pos") + 1).alias("dim"), "x")
        m = dims.groupBy("cent_id", "dim").agg(
            F.round(
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count("*"),
                9,
            ).alias("val"),
            F.count("*").cast("long").alias("n_assigned"),
        )
        cents = m.groupBy("cent_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda s: s["val"],
            ).alias("cv")
        )
    return m, cents


def q43_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_emb(spark, sf_dir).filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", "v"
    )
    m, _ = _lloyd(e)
    return m.select("cent_id", "dim", "val", "n_assigned").orderBy(
        "cent_id", "dim"
    )


def q45_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q21's IVF probe over q43's TRAINED centroids — the composed ANN
    pipeline (train cells → assign corpus → probe queries). Same scale
    shape as q21 plus the Lloyd rounds; the trained cells are tighter
    than the raw sample, so nprobe cells recover more true neighbors."""
    emb = load_emb(spark, sf_dir)
    e = emb.filter(F.col("vec_id") >= N_QUERIES).select("vec_id", "v")
    _, cents = _lloyd(e)
    cn = cents.select(
        "cent_id",
        F.col("cv").alias("centv"),
        F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("centn"),
    )
    cand = e.select(
        "vec_id",
        F.col("v").alias("cv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("cn"),
    )
    assigned = argmax_assign(
        cand.crossJoin(F.broadcast(cn)).withColumn(
            "sim",
            _dot(F.col("cv"), F.col("centv")) / (F.col("cn") * F.col("centn")),
        ),
        "vec_id",
        "cent_id",
        cand,
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    probes = (
        q.crossJoin(F.broadcast(cn))
        .withColumn(
            "sim", _dot(F.col("qv"), F.col("centv")) / (F.col("qn") * F.col("centn"))
        )
        .withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= IVF_NPROBE)
        .select("query_id", "qv", "qn", "cent_id")
    )
    scored = assigned.join(probes, "cent_id").withColumn(
        "cos", F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 9)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cos")
        .orderBy("query_id", "rank")
    )


def _lloyd_ctes() -> list[str]:
    """Unrolled KMEANS_ITER-round Lloyd CTE chain (DuckDB has no loops);
    per round: assignment (cross join + row_number), per-dim decimal
    mean (unnest-zip of generate_series with the vector), list rebuild
    ordered by dim. c{KMEANS_ITER} holds the trained centroids."""
    sim = (
        f"{_DOT_AB.format(a='e.v', b='c.cv')} / "
        f"(sqrt({_DOT_AB.format(a='e.v', b='e.v')}) * "
        f"sqrt({_DOT_AB.format(a='c.cv', b='c.cv')}))"
    )
    parts = [
        f"e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        f" WHERE vec_id >= {N_QUERIES})",
        f"c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e"
        f" WHERE vec_id % {IVF_CENTROID_MOD} = 0)",
    ]
    for it in range(1, KMEANS_ITER + 1):
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, v, cent_id FROM (
    SELECT e.vec_id, e.v, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {sim} DESC, c.cent_id ASC) AS r
    FROM e CROSS JOIN c{it - 1} c) WHERE r = 1)"""
        )
        parts.append(
            f"x{it} AS (SELECT cent_id, unnest(generate_series(1, len(v)))"
            f" AS dim, unnest(v) AS x FROM a{it})"
        )
        parts.append(
            f"""m{it} AS (
  SELECT cent_id, CAST(dim AS INT) AS dim,
         round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
           AS val,
         count(*)::BIGINT AS n_assigned
  FROM x{it} GROUP BY cent_id, dim)"""
        )
        parts.append(
            f"c{it} AS (SELECT cent_id, list(val ORDER BY dim) AS cv"
            f" FROM m{it} GROUP BY cent_id)"
        )
    return parts


def _kmeans_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_lloyd_ctes())
        + f"\nSELECT cent_id, dim, val, n_assigned FROM m{KMEANS_ITER}"
        " ORDER BY cent_id, dim"
    )


def _ivf_trained_oracle() -> str:
    """q45: extend the Lloyd chain with q21's assign/probe/score shape,
    probing c{KMEANS_ITER} (the trained centroids)."""
    k = KMEANS_ITER
    parts = _lloyd_ctes()
    parts.append(
        f"""cn AS (
  SELECT cent_id, cv AS centv,
         sqrt({_DOT_AB.format(a='cv', b='cv')}) AS centn
  FROM c{k})"""
    )
    parts.append(
        f"""asgn AS (
  SELECT vec_id, cv, cn, cent_id FROM (
    SELECT e.vec_id, e.v AS cv,
           sqrt({_DOT_AB.format(a='e.v', b='e.v')}) AS cn,
           c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_DOT_AB.format(a='e.v', b='c.centv')} /
                      (sqrt({_DOT_AB.format(a='e.v', b='e.v')}) * c.centn)
                      DESC, c.cent_id ASC) AS r
    FROM e CROSS JOIN cn c) WHERE r = 1)"""
    )
    parts.append(
        f"""qv AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES})"""
    )
    parts.append(
        f"""probes AS (
  SELECT query_id, qv, qn, cent_id FROM (
    SELECT q.query_id, q.qv,
           sqrt({_DOT_AB.format(a='q.qv', b='q.qv')}) AS qn,
           c.cent_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_DOT_AB.format(a='q.qv', b='c.centv')} /
                      (sqrt({_DOT_AB.format(a='q.qv', b='q.qv')}) * c.centn)
                      DESC, c.cent_id ASC) AS r
    FROM qv q CROSS JOIN cn c) WHERE r <= {IVF_NPROBE})"""
    )
    parts.append(
        f"""scored AS (
  SELECT query_id, vec_id,
         round({_DOT_AB.format(a='qv', b='cv')} / (qn * cn), 9) AS cos
  FROM asgn JOIN probes USING (cent_id))"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, rank, vec_id, cos
FROM (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank"""
    )


# --------------------------------------------------------------------------
# q87: SemDeDup — semantic deduplication via k-means clustering + intra-
# cluster cosine pruning (Abbas et al. 2023, arXiv:2303.09540): cluster
# the corpus embeddings with q43's Lloyd rounds, then compare pairs ONLY
# within a cluster and mark every vector that has a more-senior (lower
# vec_id) cluster-mate above SEMDEDUP_COS as a prunable semantic dup.
# This is the scale story of the paper verbatim: all-pairs cosine is
# O(n²), but with k ∝ n/target_cluster_size the intra-cluster pair
# volume is O(n × cluster_size) — each cluster's pairs materialize from
# an equi-join on cent_id, never a cross join. The threshold is looser
# than q19's near-dup 0.4 on purpose: SemDeDup prunes semantic
# redundancy, not just near-identical payloads.
#
# Determinism: assignment ties break cent_id ASC (same as q43/q45);
# pair cosine is the 9dp-rounded left-to-right double fold both engines
# share; dup_of = MIN qualifying senior id (integer, order-free);
# max_cos = MAX over identically-rounded doubles (order-free).
# --------------------------------------------------------------------------

SEMDEDUP_COS = 0.30


def q87_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_emb(spark, sf_dir).filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", "v"
    )
    _, cents = _lloyd(e)
    cn = cents.select(
        "cent_id",
        F.col("cv").alias("centv"),
        F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("centn"),
    )
    cand = e.select(
        "vec_id",
        F.col("v").alias("cv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("cn"),
    )
    assigned = argmax_assign(
        cand.crossJoin(F.broadcast(cn)).withColumn(
            "sim",
            _dot(F.col("cv"), F.col("centv")) / (F.col("cn") * F.col("centn")),
        ),
        "vec_id",
        "cent_id",
        cand,
        # referenced on both sides of the self-join below — materialize
        # once or the whole Lloyd chain runs twice
    ).localCheckpoint()
    return _senior_dup_report(assigned)


def _senior_dup_report(assigned: DataFrame) -> DataFrame:
    """SemDeDup pair phase over ``assigned`` (vec_id, cv, cn, cent_id):
    intra-cluster pairs via equi-join on cent_id, then the per-vector
    senior-dup aggregation. Shared by q87 (flat assignment) and q104
    (two-level assignment) — the phase that carries dedup semantics,
    O(n·cluster_size) in both."""
    a = assigned.select(
        "cent_id",
        F.col("vec_id").alias("vec_a"),
        F.col("cv").alias("va"),
        F.col("cn").alias("na"),
    )
    b = assigned.select(
        "cent_id",
        F.col("vec_id").alias("vec_b"),
        F.col("cv").alias("vb"),
        F.col("cn").alias("nb"),
    )
    pairs = (
        a.join(b, "cent_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 9
            ),
        )
        .filter(F.col("cos") >= F.lit(SEMDEDUP_COS))
    )
    dup = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("dup_of"), F.max("cos").alias("max_cos")
    )
    return (
        assigned.select("vec_id", "cent_id")
        .join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "cent_id",
            F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
            "dup_of",
            "max_cos",
        )
        .orderBy("vec_id")
    )


def _semdedup_oracle() -> str:
    """Lloyd chain + q45's assignment CTE, then intra-cluster pairs and
    the per-vector senior-dup aggregation."""
    k = KMEANS_ITER
    parts = _lloyd_ctes()
    parts.append(
        f"""cn AS (
  SELECT cent_id, cv AS centv,
         sqrt({_DOT_AB.format(a='cv', b='cv')}) AS centn
  FROM c{k})"""
    )
    parts.append(
        f"""asgn AS MATERIALIZED (
  SELECT vec_id, cv, cn, cent_id FROM (
    SELECT e.vec_id, e.v AS cv,
           sqrt({_DOT_AB.format(a='e.v', b='e.v')}) AS cn,
           c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_DOT_AB.format(a='e.v', b='c.centv')} /
                      (sqrt({_DOT_AB.format(a='e.v', b='e.v')}) * c.centn)
                      DESC, c.cent_id ASC) AS r
    FROM e CROSS JOIN cn c) WHERE r = 1)"""
    )
    parts.append(
        f"""sd_pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_DOT_AB.format(a='a.cv', b='b.cv')} / (a.cn * b.cn), 9)
           AS cos
  FROM asgn a JOIN asgn b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE round({_DOT_AB.format(a='a.cv', b='b.cv')} / (a.cn * b.cn), 9)
        >= {SEMDEDUP_COS}::DOUBLE)"""
    )
    parts.append(
        """sd_dup AS (
  SELECT vec_b AS vec_id, min(vec_a) AS dup_of, max(cos) AS max_cos
  FROM sd_pairs GROUP BY vec_b)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT asgn.vec_id, asgn.cent_id,
       CASE WHEN sd_dup.dup_of IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
       sd_dup.dup_of, sd_dup.max_cos
FROM asgn LEFT JOIN sd_dup ON sd_dup.vec_id = asgn.vec_id
ORDER BY asgn.vec_id"""
    )


# --------------------------------------------------------------------------
# q104: SemDeDup at scale — sampled training + two-level (coarse→fine)
# assignment. q87 is the paper's semantics verbatim, but its Lloyd
# rounds and final assignment each compute n·k distances, and with
# k ∝ n (fixed target cluster size) that is O(n²/size) — measured
# 27.5× wall for 10× data in tools/pipeline_scale_proof.py. This entry
# is the production shape for the SAME report: (1) Lloyd trains on the
# deterministic 1-in-SEM2_TRAIN_MOD sample (the paper itself trains on
# a subsample); (2) every assignment — inside each Lloyd round and the
# final full-corpus pass — routes coarse-then-fine: ~√k evenly-spaced
# (by cent_id rank) centroids act as routing pivots, each vector picks
# its nearest pivot (n·√k sims) then the nearest fine centroid among
# those routed to that pivot (n·k/√k expected) — q33's IVF trick
# applied to the trainer itself, restoring O(n·√k). The pair phase
# (the part that carries dedup semantics) is q87's unchanged.
#
# Determinism: ties break cent ASC at every level; pivots route to
# themselves (ordered first explicitly) so every routed-to cell is
# non-empty and no vector can drop out of the fine join; the pivot set
# is a pure function of the trained centroid ids (rank (rn−1) mod
# ceil(√k) == 0), so both engines route identically; mean updates keep
# q43's DECIMAL(28,12) partials + 9dp rounding; pair cosines are the
# shared 9dp left-to-right fold.
# --------------------------------------------------------------------------

SEM2_TRAIN_MOD = 5  # Lloyd trains on the vec_id % 5 == 0 sample (20%)


def _twolevel_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Route each row of ``vecs`` (vec_id, v) to its nearest centroid of
    ``cents`` (cent_id, cv) via ~√k coarse pivots — O(|vecs|·√k) sims
    instead of the flat O(|vecs|·k). Returns (vec_id, v, vnrm, cent_id).
    Both levels and the pivot choice are broadcast joins; nothing but
    the vectors themselves ever shuffles."""
    fn = cents.select(
        "cent_id", "cv", F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("fnrm")
    )
    # pivot selection: rank the k trained centroids by id, keep every
    # ceil(√k)-th — k rows, driver-free, identical on both engines
    ranked = fn.select(
        "cent_id",
        "cv",
        "fnrm",
        F.row_number().over(Window.orderBy("cent_id")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("kk"),
    )
    coarse = ranked.filter(
        F.pmod(
            F.col("rn") - 1,
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.sqrt(F.col("kk").cast("double"))).cast("long"),
            ),
        )
        == 0
    ).select(
        F.col("cent_id").alias("co_id"),
        F.col("cv").alias("cov"),
        F.col("fnrm").alias("conrm"),
    )
    # fine → pivot routing (k × √k, broadcast); a pivot routes to
    # itself FIRST so its cell is never empty
    f2c = argmax_assign(
        fn.crossJoin(F.broadcast(coarse)).withColumn(
            "sim",
            _dot(F.col("cv"), F.col("cov")) / (F.col("fnrm") * F.col("conrm")),
        ),
        "cent_id",
        "co_id",
        fn,
        self_col=(F.col("co_id") == F.col("cent_id")),
    )
    # vector → pivot (n × √k, broadcast)
    vn = vecs.withColumn("vnrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    v2c = argmax_assign(
        vn.crossJoin(F.broadcast(coarse)).withColumn(
            "sim",
            _dot(F.col("v"), F.col("cov")) / (F.col("vnrm") * F.col("conrm")),
        ),
        "vec_id",
        "co_id",
        vn,
    )
    # vector → fine within its pivot's cell (n × k/√k expected)
    return argmax_assign(
        v2c.join(F.broadcast(f2c), "co_id").withColumn(
            "sim",
            _dot(F.col("v"), F.col("cv")) / (F.col("vnrm") * F.col("fnrm")),
        ),
        "vec_id",
        "cent_id",
        v2c.select("vec_id", "v", "vnrm"),
    )


def _lloyd_twolevel(train: DataFrame) -> DataFrame:
    """KMEANS_ITER Lloyd rounds over the training sample with two-level
    assignment; mean update identical to :func:`_lloyd` (DECIMAL
    partials, 9dp). Returns trained centroids (cent_id, cv). Cents are
    localCheckpointed per round: each round references the previous
    round's k-row result several times (pivot ranking + both assignment
    levels), and without a cut the lineage re-derives it
    multiplicatively."""
    cents = train.filter(
        F.pmod("vec_id", F.lit(IVF_CENTROID_MOD)) == 0
    ).select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
    for _ in range(KMEANS_ITER):
        assigned = _twolevel_assign(train, cents).select(
            "vec_id", "v", "cent_id"
        )
        dims = assigned.select(
            "cent_id", F.posexplode("v").alias("pos", "x")
        ).select("cent_id", (F.col("pos") + 1).alias("dim"), "x")
        m = dims.groupBy("cent_id", "dim").agg(
            F.round(
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count("*"),
                9,
            ).alias("val")
        )
        cents = (
            m.groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "val"))),
                    lambda s: s["val"],
                ).alias("cv")
            )
            .localCheckpoint()
        )
    return cents


def q104_semdedup_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_emb(spark, sf_dir).filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", "v"
    )
    train = e.filter(F.pmod("vec_id", F.lit(SEM2_TRAIN_MOD)) == 0)
    cents = _lloyd_twolevel(train)
    assigned = (
        _twolevel_assign(e, cents)
        .select(
            "vec_id",
            F.col("v").alias("cv"),
            F.col("vnrm").alias("cn"),
            "cent_id",
        )
        # referenced on both sides of the pair self-join — materialize
        # once or the whole training chain runs twice
        .localCheckpoint()
    )
    return _senior_dup_report(assigned)


def _twolevel_ctes(tag: str, vecs: str, cents: str) -> list:
    """DuckDB mirror of :func:`_twolevel_assign`: CTE chain ending in
    ``asg{tag}`` (vec_id, v, vnrm, cent_id)."""
    d = _DOT_AB
    return [
        f"""fcn{tag} AS (
  SELECT cent_id, cv, sqrt({d.format(a='cv', b='cv')}) AS fnrm,
         row_number() OVER (ORDER BY cent_id) AS rn,
         count(*) OVER () AS kk
  FROM {cents})""",
        f"""co{tag} AS (
  SELECT cent_id AS co_id, cv AS cov, fnrm AS conrm FROM fcn{tag}
  WHERE (rn - 1) % greatest(1::BIGINT,
        CAST(ceil(sqrt(CAST(kk AS DOUBLE))) AS BIGINT)) = 0)""",
        f"""f2c{tag} AS (
  SELECT co_id, cent_id, cv, fnrm FROM (
    SELECT c.co_id, f.cent_id, f.cv, f.fnrm,
           row_number() OVER (PARTITION BY f.cent_id
             ORDER BY (c.co_id = f.cent_id) DESC,
                      {d.format(a='f.cv', b='c.cov')} / (f.fnrm * c.conrm)
                        DESC, c.co_id ASC) AS r
    FROM fcn{tag} f CROSS JOIN co{tag} c) WHERE r = 1)""",
        f"""v2c{tag} AS (
  SELECT vec_id, v, vnrm, co_id FROM (
    SELECT e.vec_id, e.v, sqrt({d.format(a='e.v', b='e.v')}) AS vnrm,
           c.co_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {d.format(a='e.v', b='c.cov')} /
                      (sqrt({d.format(a='e.v', b='e.v')}) * c.conrm)
                      DESC, c.co_id ASC) AS r
    FROM {vecs} e CROSS JOIN co{tag} c) WHERE r = 1)""",
        f"""asg{tag} AS (
  SELECT vec_id, v, vnrm, cent_id FROM (
    SELECT v.vec_id, v.v, v.vnrm, f.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {d.format(a='v.v', b='f.cv')} / (v.vnrm * f.fnrm)
                      DESC, f.cent_id ASC) AS r
    FROM v2c{tag} v JOIN f2c{tag} f USING (co_id)) WHERE r = 1)""",
    ]


def _semdedup_twolevel_oracle() -> str:
    """Sampled-training Lloyd chain with two-level assignment per round,
    two-level full-corpus assignment, then q87's pair phase."""
    parts = [
        f"e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        f" WHERE vec_id >= {N_QUERIES})",
        f"tr AS (SELECT vec_id, v FROM e"
        f" WHERE vec_id % {SEM2_TRAIN_MOD} = 0)",
        f"c0 AS (SELECT vec_id AS cent_id, v AS cv FROM tr"
        f" WHERE vec_id % {IVF_CENTROID_MOD} = 0)",
    ]
    for it in range(1, KMEANS_ITER + 1):
        parts += _twolevel_ctes(f"t{it}", "tr", f"c{it - 1}")
        parts.append(
            f"x{it} AS (SELECT cent_id, unnest(generate_series(1, len(v)))"
            f" AS dim, unnest(v) AS x FROM asgt{it})"
        )
        parts.append(
            f"""m{it} AS (
  SELECT cent_id, CAST(dim AS INT) AS dim,
         round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
           AS val
  FROM x{it} GROUP BY cent_id, dim)"""
        )
        parts.append(
            f"c{it} AS (SELECT cent_id, list(val ORDER BY dim) AS cv"
            f" FROM m{it} GROUP BY cent_id)"
        )
    parts += _twolevel_ctes("f", "e", f"c{KMEANS_ITER}")
    parts[-1] = parts[-1].replace("asgf AS (", "asgf AS MATERIALIZED (")
    d = _DOT_AB
    parts.append(
        f"""sd2_pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({d.format(a='a.v', b='b.v')} / (a.vnrm * b.vnrm), 9) AS cos
  FROM asgf a JOIN asgf b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE round({d.format(a='a.v', b='b.v')} / (a.vnrm * b.vnrm), 9)
        >= {SEMDEDUP_COS}::DOUBLE)"""
    )
    parts.append(
        """sd2_dup AS (
  SELECT vec_b AS vec_id, min(vec_a) AS dup_of, max(cos) AS max_cos
  FROM sd2_pairs GROUP BY vec_b)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT asgf.vec_id, asgf.cent_id,
       CASE WHEN sd2_dup.dup_of IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
       sd2_dup.dup_of, sd2_dup.max_cos
FROM asgf LEFT JOIN sd2_dup ON sd2_dup.vec_id = asgf.vec_id
ORDER BY asgf.vec_id"""
    )


# --------------------------------------------------------------------------
# q61: scalar-quantized (int8) ANN with exact re-rank — the MEMORY
# scale path. At 100 TB the embedding table itself is the bottleneck
# (64 dims × f32 = 256 B/vec); per-dim affine int8 codes cut that 4–8×
# so the shortlist scan streams codes, not floats. Train = ONE map-side-
# combinable per-dim min/max agg (64 rows, broadcast back as two
# arrays); encode/decode are pure JVM array expressions (floor — NOT
# round: Spark rounds HALF_UP, DuckDB half-even); shortlist = the q20
# single-pass scan over DEQUANTIZED candidates; then only SHORTLIST
# full vectors per query are re-scored exactly. Codes are exact small
# integers, so dequantized doubles are bit-identical on both engines.
# --------------------------------------------------------------------------

SQ_LEVELS = 254  # codes 0..254 (one spare level keeps max in range)
SQ_SHORTLIST = 30


def _sq_stats(cand: DataFrame) -> DataFrame:
    """1-row (mn_arr, d_arr) per-dim affine quantizer params."""
    dims = cand.select(F.posexplode("v").alias("pos", "x")).select(
        (F.col("pos") + 1).alias("dim"), "x"
    )
    st = dims.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return st.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s["mn"]
        ).alias("mn_arr"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "dim",
                        F.when(F.col("mx") > F.col("mn"), F.col("mx") - F.col("mn"))
                        .otherwise(F.lit(1.0))
                        .alias("d"),
                    )
                )
            ),
            lambda s: s["d"],
        ).alias("d_arr"),
    )


def _sq_dequant(v: Column, mn_arr: Column, d_arr: Column) -> Column:
    """Encode to clamped floor codes and decode back, as one expression:
    deq[i] = mn + (clamp(floor(((x - mn) * L) / d)) * d) / L."""
    lv = float(SQ_LEVELS)
    code = F.zip_with(
        F.zip_with(v, mn_arr, lambda x, m: x - m),
        d_arr,
        lambda t, d: F.least(
            F.lit(lv), F.greatest(F.lit(0.0), F.floor((t * lv) / d).cast("double"))
        ),
    )
    return F.zip_with(
        F.zip_with(code, d_arr, lambda c, d: (c * d) / lv),
        mn_arr,
        lambda t, m: m + t,
    )


def q61_ann_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_norm(load_emb(spark, sf_dir))
    cand = e.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    stats = _sq_stats(cand.select(F.col("cv").alias("v")))
    deq = cand.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "cv",
        "cn",
        _sq_dequant(F.col("cv"), F.col("mn_arr"), F.col("d_arr")).alias("dv"),
    )
    deq = deq.withColumn("dn", F.sqrt(_dot(F.col("dv"), F.col("dv"))))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    approx = deq.crossJoin(F.broadcast(q)).withColumn(
        "acos", F.round(_dot(F.col("qv"), F.col("dv")) / (F.col("qn") * F.col("dn")), 9)
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("vec_id"))
    short = approx.withColumn("r", F.row_number().over(ws)).filter(
        F.col("r") <= SQ_SHORTLIST
    )
    rer = short.withColumn(
        "cos", F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 9)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cos", "acos")
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# q62: product-quantization ANN with ADC (asymmetric distance
# computation) — the CODE-size scale path beyond q61's int8: each
# 64-dim vector compresses to PQ_M sub-codes (here 8 codes ≈ 8 bytes,
# 32× under f32). Codebooks are per-subspace k-means (Lloyd over the
# slice table — ALL subspaces train in one DataFrame pass, the
# subspace id is just a grouping key, never a loop over columns).
# Query time: the PQ_M×PQ_K distance table (tiny, broadcast) is
# equi-joined to the relational code table (vec_id, m, cid) and summed
# per (query, vec) — quantized DECIMAL(28,12) partials so the M-way sum
# is order-insensitive — then only PQ_SHORTLIST full vectors per query
# are re-scored exactly. L2 in the quantized space (PQ's native
# metric), exact cosine for the final ranking.
# --------------------------------------------------------------------------

PQ_M = 8          # subspaces
PQ_SUB_D = 8      # dims per subspace (8*8 = 64)
PQ_K = 16         # codewords per subspace
PQ_ITERS = 2      # Lloyd rounds per subspace
PQ_SHORTLIST = 50
_QDEC = "decimal(28,12)"


def _l2(a: Column, b: Column) -> Column:
    # HOF fold, same rationale as _dot (unrolling measured slower)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_sub(df: DataFrame, vcol: str, keep: list[str]) -> DataFrame:
    """Explode ``vcol`` into PQ_M (m, sv) slice rows per input row."""
    return df.select(
        *keep, vcol, F.explode(F.sequence(F.lit(1), F.lit(PQ_M))).alias("m")
    ).select(
        *keep,
        "m",
        F.expr(f"slice({vcol}, (m - 1) * {PQ_SUB_D} + 1, {PQ_SUB_D})").alias("sv"),
    )


def _pq_assign(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest codeword per (vec_id, m): equi-join on the subspace id,
    L2 tie-broken by cid — argmin via argmax_assign on negated dist
    (same map-side-combinable agg shape as the IVF assignment; the
    window it replaces sorted the full |vecs|·M·|codewords| table)."""
    scored = (
        sub.join(F.broadcast(cb), "m")
        .withColumn("dist", _l2(F.col("sv"), F.col("cv")))
        .withColumn("sim", -F.col("dist"))
    )
    return argmax_assign(scored, ["vec_id", "m"], "cid", sub)


def _pq_train(sub: DataFrame, init_ids: DataFrame) -> DataFrame:
    """PQ_ITERS Lloyd rounds over the slice table; returns the codebook
    (m, cid, cv). Empty codewords drop out, exactly like q43."""
    cb = sub.join(init_ids, "vec_id").select(
        "m", "cid", F.col("sv").alias("cv")
    )
    for _ in range(PQ_ITERS):
        a = _pq_assign(sub, cb).select("vec_id", "m", "sv", "cid")
        dims = a.select(
            "m", "cid", F.posexplode("sv").alias("pos", "x")
        ).select("m", "cid", (F.col("pos") + 1).alias("dim"), "x")
        means = dims.groupBy("m", "cid", "dim").agg(
            F.round(
                F.sum(F.col("x").cast(_QDEC)).cast("double") / F.count("*"), 9
            ).alias("val")
        )
        cb = means.groupBy("m", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda s: s["val"],
            ).alias("cv")
        )
    return cb


def q62_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_norm(load_emb(spark, sf_dir))
    cand = e.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    sub = _pq_sub(
        cand.select("vec_id", F.col("cv").alias("v")), "v", ["vec_id"]
    ).localCheckpoint()
    wi = Window.orderBy("vec_id")
    init_ids = (
        cand.filter(F.pmod("vec_id", F.lit(IVF_CENTROID_MOD)) == 0)
        .select("vec_id")
        .withColumn("cid", F.row_number().over(wi))
        .filter(F.col("cid") <= PQ_K)
    )
    cb = _pq_train(sub, init_ids).localCheckpoint()
    enc = _pq_assign(sub, cb).select("vec_id", "m", "cid")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    qsub = _pq_sub(
        q.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("v")),
        "v",
        ["vec_id"],
    ).select(F.col("vec_id").alias("query_id"), "m", "sv")
    dt = (
        qsub.join(F.broadcast(cb), "m")
        .select("query_id", "m", "cid", _l2(F.col("sv"), F.col("cv")).alias("dist"))
    )
    ad = (
        enc.join(F.broadcast(dt), ["m", "cid"])
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sum(F.round("dist", 12).cast(_QDEC)).cast("double"), 9
            ).alias("adist")
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    short = ad.withColumn("r", F.row_number().over(ws)).filter(
        F.col("r") <= PQ_SHORTLIST
    )
    rer = (
        short.join(cand, "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cos",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 9),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cos", "adist")
        .orderBy("query_id", "rank")
    )


QUERIES = {
    "q20_ann_bruteforce": q20_ann_bruteforce,
    "q21_ann_ivf": q21_ann_ivf,
    "q110_filtered_ann": q110_filtered_ann,
    "q115_class_cohesion": q115_class_cohesion,
    "q43_kmeans_train": q43_kmeans_train,
    "q45_ann_ivf_trained": q45_ann_ivf_trained,
    "q61_ann_sq": q61_ann_sq,
    "q62_ann_pq": q62_ann_pq,
    "q87_semdedup": q87_semdedup,
    "q104_semdedup_twolevel": q104_semdedup_twolevel,
}

_EN = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
en AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(v)), i -> v[i] * v[i])),
           (acc, x) -> acc + x)) AS nrm
  FROM e
)
"""

_DOT_AB = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i])), "
    "(acc, x) -> acc + x)"
)

ORACLE = {
    "q20_ann_bruteforce": f"""
WITH {_EN},
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM en WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id, v AS cv, nrm AS cn FROM en WHERE vec_id >= {N_QUERIES}),
scored AS (
  SELECT query_id, vec_id,
         round({_DOT_AB.format(a='qv', b='cv')} / (qn * cn), 9) AS cos
  FROM c CROSS JOIN q
)
SELECT query_id, rank, vec_id, cos
FROM (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
""",
    "q21_ann_ivf": f"""
WITH {_EN},
cents AS (SELECT vec_id AS cent_id, v AS centv, nrm AS centn
          FROM en WHERE vec_id % {IVF_CENTROID_MOD} = 0),
cand AS (SELECT vec_id, v AS cv, nrm AS cn FROM en WHERE vec_id >= {N_QUERIES}),
asgn AS (
  SELECT vec_id, cv, cn, cent_id,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY {_DOT_AB.format(a='cv', b='centv')} / (cn * centn) DESC,
                    cent_id ASC) AS r
  FROM cand CROSS JOIN cents
),
assigned AS (SELECT vec_id, cv, cn, cent_id FROM asgn WHERE r = 1),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM en WHERE vec_id < {N_QUERIES}),
pr AS (
  SELECT query_id, qv, qn, cent_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY {_DOT_AB.format(a='qv', b='centv')} / (qn * centn) DESC,
                    cent_id ASC) AS r
  FROM q CROSS JOIN cents
),
probes AS (SELECT query_id, qv, qn, cent_id FROM pr WHERE r <= {IVF_NPROBE}),
scored AS (
  SELECT query_id, vec_id,
         round({_DOT_AB.format(a='qv', b='cv')} / (qn * cn), 9) AS cos
  FROM assigned JOIN probes USING (cent_id)
)
SELECT query_id, rank, vec_id, cos
FROM (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
""",
}

ORACLE["q43_kmeans_train"] = _kmeans_oracle()
ORACLE["q45_ann_ivf_trained"] = _ivf_trained_oracle()
ORACLE["q87_semdedup"] = _semdedup_oracle()
ORACLE["q104_semdedup_twolevel"] = _semdedup_twolevel_oracle()

# q115: centroid = q43's DECIMAL-partial mean discipline per (label,
# dim); cosine pass re-joins the |labels|-row centroid list; the
# decimal→double casts stay far under 2^53 unscaled (|sums| < n).
ORACLE["q115_class_cohesion"] = f"""
WITH {_EN},
enl AS (SELECT en.vec_id, en.v, en.nrm, e.label
        FROM en JOIN e USING (vec_id)),
dims AS (
  SELECT label, i AS dim, v[i] AS x
  FROM enl, unnest(generate_series(1, len(v))) AS u(i)
),
m AS (
  SELECT label, dim,
         round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
           AS mval
  FROM dims GROUP BY label, dim
),
cents AS (
  SELECT label, list(mval ORDER BY dim) AS cv FROM m GROUP BY label
),
cn AS (
  SELECT label, cv,
         sqrt({_DOT_AB.format(a='cv', b='cv')}) AS cnrm
  FROM cents
),
cos AS (
  SELECT enl.label,
         round({_DOT_AB.format(a='v', b='cv')} / (nrm * cnrm), 9) AS c
  FROM enl JOIN cn USING (label)
)
SELECT label, count(*)::BIGINT AS n_vecs,
       round(CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
         AS mean_cos,
       min(c) AS min_cos
FROM cos GROUP BY label ORDER BY label
"""

# q110: q21's probe chain with label threaded through and the equality
# predicate joined into the probe; FILTERED_NPROBE-wide cell fan.
ORACLE["q110_filtered_ann"] = f"""
WITH {_EN},
enl AS (SELECT en.vec_id, en.v, en.nrm, e.label
        FROM en JOIN e USING (vec_id)),
cents AS (SELECT vec_id AS cent_id, v AS centv, nrm AS centn
          FROM enl WHERE vec_id % {IVF_CENTROID_MOD} = 0),
cand AS (SELECT vec_id, label, v AS cv, nrm AS cn
         FROM enl WHERE vec_id >= {N_QUERIES}),
asgn AS (
  SELECT vec_id, label, cv, cn, cent_id,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY {_DOT_AB.format(a='cv', b='centv')} / (cn * centn) DESC,
                    cent_id ASC) AS r
  FROM cand CROSS JOIN cents
),
assigned AS (SELECT vec_id, label, cv, cn, cent_id FROM asgn WHERE r = 1),
q AS (SELECT vec_id AS query_id, label, v AS qv, nrm AS qn
      FROM enl WHERE vec_id < {N_QUERIES}),
pr AS (
  SELECT query_id, label, qv, qn, cent_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY {_DOT_AB.format(a='qv', b='centv')} / (qn * centn) DESC,
                    cent_id ASC) AS r
  FROM q CROSS JOIN cents
),
probes AS (SELECT query_id, label, qv, qn, cent_id
           FROM pr WHERE r <= {FILTERED_NPROBE}),
scored AS (
  SELECT query_id, probes.label AS label, vec_id,
         round({_DOT_AB.format(a='qv', b='cv')} / (qn * cn), 9) AS cos
  FROM assigned JOIN probes USING (cent_id, label)
)
SELECT query_id, label, rank, vec_id, cos
FROM (
  SELECT query_id, label, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

# q61 oracle: same affine floor-code dequantization, spelled with the
# identical clamp/decode expression shape (floor, not round — Spark
# rounds HALF_UP, DuckDB half-even).
_SQ_DEQ = (
    f"list_transform(generate_series(1, len(cv)), i -> mn_arr[i] + "
    f"((least({float(SQ_LEVELS)}, greatest(0.0, "
    f"floor(((cv[i] - mn_arr[i]) * {float(SQ_LEVELS)}) / d_arr[i])))"
    f" * d_arr[i]) / {float(SQ_LEVELS)}))"
)

# q62 oracle: the full PQ pipeline unrolled — subspace slice table,
# PQ_ITERS Lloyd CTEs (all subspaces at once, m is a grouping key),
# encode, broadcast-shaped distance table, quantized ADC sum, exact
# re-rank. Same L2/assignment/mean expression shapes as the engine.
_L2_AB = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(generate_series(1, len({a})), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
    "(acc, x) -> acc + x)"
)


def _pq_oracle() -> str:
    parts = [
        f"e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        f" WHERE vec_id >= {N_QUERIES})",
        f"""sub AS (
  SELECT vec_id, m,
         list_slice(v, (m - 1) * {PQ_SUB_D} + 1, m * {PQ_SUB_D}) AS sv
  FROM e, unnest(generate_series(1, {PQ_M})) AS u(m))""",
        f"""init AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cid
    FROM e WHERE vec_id % {IVF_CENTROID_MOD} = 0)
  WHERE cid <= {PQ_K})""",
        "cb0 AS (SELECT m, cid, sv AS cv FROM sub JOIN init USING (vec_id))",
    ]
    asgn = (
        "SELECT vec_id, m, sv, cid FROM ("
        "SELECT s.vec_id, s.m, s.sv, c.cid, "
        "row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY "
        + _L2_AB.format(a="s.sv", b="c.cv")
        + " ASC, c.cid ASC) AS rr "
        "FROM sub s JOIN cb{prev} c USING (m)) WHERE rr = 1"
    )
    for it in range(1, PQ_ITERS + 1):
        parts.append(f"a{it} AS ({asgn.format(prev=it - 1)})")
        parts.append(
            f"x{it} AS (SELECT m, cid, unnest(generate_series(1, len(sv)))"
            f" AS dim, unnest(sv) AS x FROM a{it})"
        )
        parts.append(
            f"""m{it} AS (
  SELECT m, cid, CAST(dim AS INT) AS dim,
         round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
           AS val
  FROM x{it} GROUP BY m, cid, dim)"""
        )
        parts.append(
            f"cb{it} AS (SELECT m, cid, list(val ORDER BY dim) AS cv"
            f" FROM m{it} GROUP BY m, cid)"
        )
    k = PQ_ITERS
    parts.append(
        "enc AS (SELECT vec_id, m, cid FROM ("
        "SELECT s.vec_id, s.m, c.cid, "
        "row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY "
        + _L2_AB.format(a="s.sv", b="c.cv")
        + f" ASC, c.cid ASC) AS rr FROM sub s JOIN cb{k} c USING (m))"
        " WHERE rr = 1)"
    )
    parts.append(
        f"""qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {N_QUERIES})"""
    )
    parts.append(
        f"""qsub AS (
  SELECT query_id, m,
         list_slice(v, (m - 1) * {PQ_SUB_D} + 1, m * {PQ_SUB_D}) AS sv
  FROM qv, unnest(generate_series(1, {PQ_M})) AS u(m))"""
    )
    parts.append(
        "dt AS (SELECT query_id, q.m, c.cid, "
        + _L2_AB.format(a="q.sv", b="c.cv")
        + f" AS dist FROM qsub q JOIN cb{k} c USING (m))"
    )
    parts.append(
        """ad AS (
  SELECT query_id, vec_id,
         round(CAST(sum(round(dist, 12)::DECIMAL(28,12)) AS DOUBLE), 9)
           AS adist
  FROM enc JOIN dt USING (m, cid) GROUP BY query_id, vec_id)"""
    )
    parts.append(
        f"""short AS (
  SELECT query_id, vec_id, adist FROM (
    SELECT query_id, vec_id, adist,
           row_number() OVER (PARTITION BY query_id
             ORDER BY adist ASC, vec_id ASC) AS r
    FROM ad) WHERE r <= {PQ_SHORTLIST})"""
    )
    parts.append(
        f"""cn AS (
  SELECT vec_id, v AS cv, sqrt({_DOT_AB.format(a='v', b='v')}) AS cn
  FROM e)"""
    )
    parts.append(
        f"""qn AS (
  SELECT query_id, v AS qvv,
         sqrt({_DOT_AB.format(a='v', b='v')}) AS qn
  FROM qv)"""
    )
    parts.append(
        f"""rer AS (
  SELECT s.query_id, s.vec_id, s.adist,
         round({_DOT_AB.format(a='qvv', b='cv')} / (qn.qn * c.cn), 9) AS cos
  FROM short s JOIN cn c USING (vec_id) JOIN qn ON qn.query_id = s.query_id)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, rank, vec_id, cos, adist
FROM (
  SELECT query_id, vec_id, cos, adist,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cos DESC, vec_id ASC) AS rank
  FROM rer)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank"""
    )


ORACLE["q62_ann_pq"] = _pq_oracle()

ORACLE["q61_ann_sq"] = f"""
WITH {_EN},
cand AS (SELECT vec_id, v AS cv, nrm AS cn FROM en WHERE vec_id >= {N_QUERIES}),
dimx AS (
  SELECT unnest(generate_series(1, len(cv))) AS dim, unnest(cv) AS x FROM cand
),
st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dimx GROUP BY dim),
s AS (
  SELECT list(mn ORDER BY dim) AS mn_arr,
         list(CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END ORDER BY dim) AS d_arr
  FROM st
),
deq AS (
  SELECT vec_id, cv, cn, {_SQ_DEQ} AS dv
  FROM cand CROSS JOIN s
),
deqn AS (
  SELECT vec_id, cv, cn, dv,
         sqrt({_DOT_AB.format(a='dv', b='dv')}) AS dn
  FROM deq
),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM en WHERE vec_id < {N_QUERIES}),
approx AS (
  SELECT query_id, vec_id, cv, cn, qv, qn,
         round({_DOT_AB.format(a='qv', b='dv')} / (qn * dn), 9) AS acos
  FROM deqn CROSS JOIN q
),
short AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY acos DESC, vec_id ASC) AS r
    FROM approx) WHERE r <= {SQ_SHORTLIST}
),
rer AS (
  SELECT query_id, vec_id, acos,
         round({_DOT_AB.format(a='qv', b='cv')} / (qn * cn), 9) AS cos
  FROM short
)
SELECT query_id, rank, vec_id, cos, acos
FROM (
  SELECT query_id, vec_id, cos, acos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM rer)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# q124: ANN recall@k audit — the acceptance gate a production pipeline
# runs before trusting an approximate index: per-query overlap between
# the IVF shortlist top-k (q21) and the exhaustive top-k (q20), plus a
# macro row (query_id = -1) with the corpus-level recall. pytest bounds
# the IVF recall once at fixture scale; THIS entry makes the audit a
# reusable, oracle-gated operator you can run against any corpus drop
# (recall decays silently as the vector distribution drifts from the
# centroids — the audit is how you notice).
#
# Scale shape: the expensive inputs are q20/q21 themselves (their own
# entries document the broadcast/probe designs); the audit on top is
# two (query_id, vec_id)-keyed hash joins and a |queries|-row agg —
# noise. At real scale you run it on a SAMPLED query set against the
# full index: the audit composes unchanged because recall is per-query.
# --------------------------------------------------------------------------


def q124_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q20_ann_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    approx = q21_ann_ivf(spark, sf_dir).select("query_id", "vec_id")
    hit = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    per = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("k"))
        .join(hit, "query_id", "left")
        .select(
            "query_id",
            "k",
            F.coalesce("n_hit", F.lit(0).cast("long")).alias("n_hit"),
        )
    )
    rows = per.select(
        "query_id",
        "k",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_k"),
    )
    macro = per.agg(
        F.sum("k").alias("k"), F.sum("n_hit").alias("n_hit")
    ).select(
        F.lit(-1).cast("long").alias("query_id"),
        "k",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_k"),
    )
    return rows.unionAll(macro).orderBy("query_id")


QUERIES["q124_ann_recall_audit"] = q124_ann_recall_audit

ORACLE["q124_ann_recall_audit"] = f"""
WITH exact AS (
  SELECT query_id, vec_id FROM ({ORACLE["q20_ann_bruteforce"]})
),
approx AS (
  SELECT query_id, vec_id FROM ({ORACLE["q21_ann_ivf"]})
),
hit AS (
  SELECT e.query_id, count(*) AS n_hit
  FROM exact e JOIN approx a
    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  GROUP BY e.query_id
),
per AS (
  SELECT kk.query_id, kk.k, coalesce(h.n_hit, 0)::BIGINT AS n_hit
  FROM (SELECT query_id, count(*) AS k FROM exact GROUP BY query_id) kk
  LEFT JOIN hit h USING (query_id)
)
SELECT query_id, k, n_hit, n_hit::DOUBLE / k AS recall_at_k FROM per
UNION ALL
SELECT -1::BIGINT, sum(k)::BIGINT, sum(n_hit)::BIGINT,
       sum(n_hit)::BIGINT::DOUBLE / sum(k)::BIGINT
FROM per
ORDER BY query_id
"""


# --------------------------------------------------------------------------
# q126: NDCG@k audit — the RANK-AWARE companion to q124's set recall:
# two approximate lists with the same recall can differ badly in where
# they place the best hits; NDCG is the metric retrieval teams actually
# track. Relevance is graded from the exhaustive ranking (gain of the
# exact rank-r hit = k-r+1, linear gain), DCG discounts by 1/log2(i+1).
#
# Cross-engine float discipline: the discount table AND the ideal DCG
# are PYTHON-computed double literals embedded verbatim in both the
# Spark plan and the oracle SQL (repr round-trips exactly), so neither
# engine evaluates a log at query time — no ln() ulp risk. Per-query
# DCG terms are quantized to DECIMAL(28,12) BEFORE the sum (q27's
# order-insensitivity rule), cast to double once (unscaled < 2^53 —
# exact), divided by the literal IDCG.
#
# Scale shape: q124's joins plus a |approx hits|-row map — noise on top
# of q20/q21; runs on a sampled query set unchanged at real scale.
# --------------------------------------------------------------------------

import math as _math

_NDCG_DISC = [1.0 / _math.log2(i + 1) for i in range(1, TOP_K + 1)]
# fixed ascending-rank summation order, then embedded as ONE literal
_NDCG_IDCG = 0.0
for _i in range(1, TOP_K + 1):
    _NDCG_IDCG += (TOP_K - _i + 1) * _NDCG_DISC[_i - 1]


def q126_ann_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both lists are <= |queries|*k rows — materialize them (q38/q59's
    # idiom) so the join consumes two tiny tables instead of re-planning
    # the full q20/q21 pipelines as duplicated SortMergeJoin subtrees
    # (measured 62 s vs 11 s at the 50k-doc scale proof without this)
    exact = (
        q20_ann_bruteforce(spark, sf_dir)
        .select("query_id", "vec_id", F.col("rank").alias("exact_rank"))
        .localCheckpoint()
    )
    approx = (
        q21_ann_ivf(spark, sf_dir)
        .select("query_id", "vec_id", "rank")
        .localCheckpoint()
    )
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC]), F.col("rank")
    )
    gain = (F.lit(TOP_K) - F.col("exact_rank") + 1).cast("double")
    terms = (
        approx.join(exact, ["query_id", "vec_id"], "left")
        .select(
            "query_id",
            F.round(
                F.when(
                    F.col("exact_rank").isNotNull(), gain * disc
                ).otherwise(F.lit(0.0)),
                12,
            )
            .cast(_QDEC)
            .alias("term"),
        )
    )
    return (
        terms.groupBy("query_id")
        .agg(F.sum("term").alias("dcg_dec"))
        .select(
            "query_id",
            F.col("dcg_dec").cast("double").alias("dcg"),
            (
                F.col("dcg_dec").cast("double") / F.lit(_NDCG_IDCG)
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


QUERIES["q126_ann_ndcg_audit"] = q126_ann_ndcg_audit

# float constants embedded via CAST('<repr>' AS DOUBLE): strtod parsing
# is correctly rounded at ANY digit count, so the parity can't silently
# break if a TOP_K bump pushes a repr's unscaled value past 2^53 (bare
# decimal literals go through DuckDB DECIMAL and double-round there)
_NDCG_DISC_SQL = " ".join(
    f"WHEN {i + 1} THEN CAST('{d!r}' AS DOUBLE)"
    for i, d in enumerate(_NDCG_DISC)
)

ORACLE["q126_ann_ndcg_audit"] = f"""
WITH exact AS (
  SELECT query_id, vec_id, rank AS exact_rank
  FROM ({ORACLE["q20_ann_bruteforce"]})
),
approx AS (
  SELECT query_id, vec_id, rank FROM ({ORACLE["q21_ann_ivf"]})
),
terms AS (
  SELECT a.query_id,
         round(CASE WHEN e.exact_rank IS NOT NULL
                    THEN ({TOP_K} - e.exact_rank + 1)::DOUBLE
                         * (CASE a.rank {_NDCG_DISC_SQL} END)
                    ELSE 0.0 END, 12)::DECIMAL(28,12) AS term
  FROM approx a LEFT JOIN exact e
    ON e.query_id = a.query_id AND e.vec_id = a.vec_id
)
SELECT query_id,
       sum(term)::DECIMAL(28,12)::DOUBLE AS dcg,
       sum(term)::DECIMAL(28,12)::DOUBLE
         / CAST('{_NDCG_IDCG!r}' AS DOUBLE) AS ndcg
FROM terms GROUP BY query_id ORDER BY query_id
"""


# --------------------------------------------------------------------------
# q128: embedding drift detector — per-dimension moment comparison
# between two corpus halves (vec_id parity = the deterministic stand-in
# for "previous snapshot vs new drop"): per (half, dim) mean and E[x²]
# via DECIMAL(28,12)-quantized sums (q115/q67's order-insensitive
# discipline), pivoted wide, flagged when the mean shifts > 0.05 or the
# std ratio leaves [0.8, 1.25]. This is the gate that catches an
# encoder-version mixup or a normalization change BEFORE the drifted
# vectors poison SemDeDup / filtered-ANN centroids trained on the old
# distribution.
#
# Scale shape: one embeddings pass exploded to (half, dim, x) — the
# shuffle key is (half, dim), 2·EMB_DIM groups, map-side combinable
# decimal partials; everything after the first agg is O(dim) rows.
# Std-ratio compares multiply instead of divide (no 0-division branch).
# --------------------------------------------------------------------------

DRIFT_MEAN_SHIFT = 0.05
DRIFT_STD_RATIO = 1.25


def q128_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_emb(spark, sf_dir)
    dims = e.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("v").alias("pos", "x"),
    ).select("half", (F.col("pos") + 1).alias("dim"), "x")
    st = dims.groupBy("half", "dim").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("x").cast(_QDEC)).cast("double") / F.count("*"), 9
        ).alias("mean"),
        F.round(
            F.sum(F.round(F.col("x") * F.col("x"), 12).cast(_QDEC)).cast(
                "double"
            )
            / F.count("*"),
            9,
        ).alias("ex2"),
    )

    def _side(col: str, half: int) -> F.Column:
        return F.max(F.when(F.col("half") == half, F.col(col)))

    wide = st.groupBy("dim").agg(
        _side("n", 0).alias("n_a"),
        _side("n", 1).alias("n_b"),
        _side("mean", 0).alias("mean_a"),
        _side("mean", 1).alias("mean_b"),
        _side("ex2", 0).alias("ex2_a"),
        _side("ex2", 1).alias("ex2_b"),
    )
    std_a = F.sqrt(
        F.greatest(
            F.col("ex2_a") - F.col("mean_a") * F.col("mean_a"), F.lit(0.0)
        )
    )
    std_b = F.sqrt(
        F.greatest(
            F.col("ex2_b") - F.col("mean_b") * F.col("mean_b"), F.lit(0.0)
        )
    )
    shift = F.col("mean_b") - F.col("mean_a")
    return (
        wide.select(
            "dim",
            "n_a",
            "n_b",
            "mean_a",
            "mean_b",
            shift.alias("mean_shift"),
            std_a.alias("std_a"),
            std_b.alias("std_b"),
            (
                (F.abs(shift) > DRIFT_MEAN_SHIFT)
                | (std_b > std_a * F.lit(DRIFT_STD_RATIO))
                | (std_b * F.lit(DRIFT_STD_RATIO) < std_a)
            )
            .cast("int")
            .alias("drifted"),
        )
        .orderBy("dim")
    )


QUERIES["q128_embedding_drift"] = q128_embedding_drift

ORACLE["q128_embedding_drift"] = f"""
WITH e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT vec_id % 2 AS half, i AS dim, v[i] AS x
  FROM e2, unnest(generate_series(1, len(v))) AS u(i)
),
st AS (
  SELECT half, dim, count(*) AS n,
         round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
           AS mean,
         round(CAST(sum(CAST(round(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE)
               / count(*), 9) AS ex2
  FROM dims GROUP BY half, dim
),
w AS (
  SELECT dim,
         max(CASE WHEN half = 0 THEN n END) AS n_a,
         max(CASE WHEN half = 1 THEN n END) AS n_b,
         max(CASE WHEN half = 0 THEN mean END) AS mean_a,
         max(CASE WHEN half = 1 THEN mean END) AS mean_b,
         max(CASE WHEN half = 0 THEN ex2 END) AS ex2_a,
         max(CASE WHEN half = 1 THEN ex2 END) AS ex2_b
  FROM st GROUP BY dim
)
SELECT dim, n_a, n_b, mean_a, mean_b,
       mean_b - mean_a AS mean_shift,
       sqrt(greatest(ex2_a - mean_a * mean_a, 0.0)) AS std_a,
       sqrt(greatest(ex2_b - mean_b * mean_b, 0.0)) AS std_b,
       CASE WHEN abs(mean_b - mean_a) > {DRIFT_MEAN_SHIFT}::DOUBLE
              OR sqrt(greatest(ex2_b - mean_b * mean_b, 0.0))
                 > sqrt(greatest(ex2_a - mean_a * mean_a, 0.0))
                   * {DRIFT_STD_RATIO}::DOUBLE
              OR sqrt(greatest(ex2_b - mean_b * mean_b, 0.0))
                 * {DRIFT_STD_RATIO}::DOUBLE
                 < sqrt(greatest(ex2_a - mean_a * mean_a, 0.0))
            THEN 1 ELSE 0 END AS drifted
FROM w ORDER BY dim
"""


# --------------------------------------------------------------------------
# q148: MMR result diversification (Carbonell/Goldstein SIGIR'98
# maximal marginal relevance) — the serving-side re-ranker between
# retrieval and presentation: greedily pick K results trading query
# relevance against redundancy with what is already picked,
# mmr(d) = λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s). The reference serves
# raw blended order (Mainpage.java:117-132); every production SERP
# diversifies it.
#
# Scale shape: corpus-scale work is ONLY the pool scoring scan (one
# broadcast-query cosine pass capped by TakeOrderedAndProject to
# MMR_POOL rows — in production the pool comes from the q21 ANN
# shortlist instead); the P×P pairwise-sim table and the K unrolled
# greedy rounds operate on a ≤P-row frame — serving-time constants
# independent of corpus size. Determinism: rel and pairwise cosines go
# through the established round-9 cosine gate (bit-identical cross-
# engine), λ/(1−λ) are embedded ::DOUBLE constants on BOTH sides, the
# combine is one identical IEEE tree, and every argmax carries the
# (mmr DESC, doc_id ASC) total order.
# --------------------------------------------------------------------------

MMR_QID = 3    # query vector for the diversified SERP
MMR_POOL = 20  # relevance pool fed to the re-ranker
MMR_K = 8      # results returned


def q148_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_norm(load_emb(spark, sf_dir))
    qv = e.filter(F.col("vec_id") == MMR_QID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    pool = (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")),
                9,
            ).alias("rel_r"),
            "v",
            "nrm",
        )
        .orderBy(F.desc("rel_r"), F.asc("doc_id"))
        .limit(MMR_POOL)
        .localCheckpoint(eager=False)
    )
    a = pool.select(
        F.col("doc_id").alias("a"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    b = pool.select(
        F.col("doc_id").alias("b"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    sim = (
        a.join(F.broadcast(b), F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                _dot(F.col("av"), F.col("bv"))
                / (F.col("an") * F.col("bn")),
                9,
            ).alias("sim_r"),
        )
        .localCheckpoint(eager=False)
    )
    p = pool.select("doc_id", "rel_r")
    lam, lam1 = F.lit(0.7), F.lit(0.3)
    sel = None
    for i in range(1, MMR_K + 1):
        if sel is None:
            cand = p.withColumn("maxsim_r", F.lit(0.0))
        else:
            picked = sel.select("doc_id")
            ms = (
                sim.join(
                    F.broadcast(
                        picked.select(F.col("doc_id").alias("b"))
                    ),
                    "b",
                )
                .groupBy("a")
                .agg(F.max("sim_r").alias("m"))
            )
            cand = (
                p.join(F.broadcast(picked), "doc_id", "left_anti")
                .join(
                    F.broadcast(ms),
                    F.col("doc_id") == F.col("a"),
                    "left",
                )
                .select(
                    "doc_id",
                    "rel_r",
                    F.coalesce(F.col("m"), F.lit(0.0)).alias("maxsim_r"),
                )
            )
        pick = (
            cand.withColumn(
                "mmr_r",
                lam * F.col("rel_r") - lam1 * F.col("maxsim_r"),
            )
            .orderBy(F.desc("mmr_r"), F.asc("doc_id"))
            .limit(1)
            .withColumn("sel_rank", F.lit(i).cast("long"))
        )
        sel = (
            pick
            if sel is None
            else sel.unionByName(pick).localCheckpoint(eager=False)
        )
    return sel.select(
        "sel_rank", "doc_id", "rel_r", "maxsim_r", "mmr_r"
    ).orderBy("sel_rank")


QUERIES["q148_mmr_diversify"] = q148_mmr_diversify


def _mmr_round_sql(i: int) -> str:
    prev = f"s{i - 1}"
    return f"""
s{i} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT {i}::BIGINT AS sel_rank, doc_id, rel_r, maxsim_r, mmr_r FROM (
    SELECT c.doc_id, c.rel_r,
           coalesce(ms.m, 0.0::DOUBLE) AS maxsim_r,
           0.7::DOUBLE * c.rel_r
             - 0.3::DOUBLE * coalesce(ms.m, 0.0::DOUBLE) AS mmr_r
    FROM p c LEFT JOIN (
      SELECT a, max(sim_r) AS m FROM sim
      WHERE b IN (SELECT doc_id FROM {prev}) GROUP BY a) ms
      ON c.doc_id = ms.a
    WHERE c.doc_id NOT IN (SELECT doc_id FROM {prev})
    ORDER BY mmr_r DESC, doc_id ASC LIMIT 1)
)"""


_MMR_ROUNDS = ",".join(_mmr_round_sql(i) for i in range(2, MMR_K + 1))

ORACLE["q148_mmr_diversify"] = f"""
WITH {_EN},
q AS (SELECT v AS qv, nrm AS qn FROM en WHERE vec_id = {MMR_QID}),
pool AS MATERIALIZED (
  SELECT c.vec_id AS doc_id,
         round({_DOT_AB.format(a='q.qv', b='c.v')} / (q.qn * c.nrm), 9)
           AS rel_r,
         c.v, c.nrm
  FROM en c CROSS JOIN q WHERE c.vec_id >= {N_QUERIES}
  ORDER BY rel_r DESC, doc_id ASC LIMIT {MMR_POOL}
),
sim AS MATERIALIZED (
  SELECT pa.doc_id AS a, pb.doc_id AS b,
         round({_DOT_AB.format(a='pa.v', b='pb.v')} / (pa.nrm * pb.nrm), 9)
           AS sim_r
  FROM pool pa JOIN pool pb ON pa.doc_id <> pb.doc_id
),
p AS (SELECT doc_id, rel_r FROM pool),
s1 AS MATERIALIZED (
  SELECT 1::BIGINT AS sel_rank, doc_id, rel_r, 0.0::DOUBLE AS maxsim_r,
         0.7::DOUBLE * rel_r - 0.3::DOUBLE * 0.0::DOUBLE AS mmr_r
  FROM p
  ORDER BY 0.7::DOUBLE * rel_r - 0.3::DOUBLE * 0.0::DOUBLE DESC,
           doc_id ASC
  LIMIT 1
),
{_MMR_ROUNDS}
SELECT sel_rank, doc_id, rel_r, maxsim_r, mmr_r
FROM s{MMR_K} ORDER BY sel_rank
"""


# --------------------------------------------------------------------------
# q164: Johnson–Lindenstrauss random-sign projection + distortion
# audit (Achlioptas JCSS'03: ±1 entries suffice) — the
# dimensionality-reduction step a 100 TB embedding pipeline runs
# before ANN when 64-d dots are still too hot: project to JL_DIMS
# dims with a DETERMINISTIC sign matrix (md5 of (i,j) — rebuildable
# anywhere, no RNG state to ship), then audit the squared-distance
# distortion d²_proj / (JL_DIMS · d²_orig) over a bounded pair sample
# (expectation exactly 1 for sign projections).
#
# Scale shape: the projection is MAP-ONLY — the D×D' sign matrix is a
# plan literal (at scale: a broadcast), each output dim one _dot fold
# (the HOF-fold idiom q20 measured fastest); the audit pair set is
# |JL_SAMPLE|²/2 rows, constant in corpus size. Determinism: every
# fold is the SAME left-to-right zip_with/aggregate tree as q20's
# _dot (⇔ DuckDB list_reduce), so both engines produce bit-identical
# doubles, UNROUNDED; the ratio is NULL-guarded on d²_orig = 0.
# --------------------------------------------------------------------------

JL_DIMS = 8
JL_SAMPLE = 40


def _jl_signs() -> list[list[float]]:
    """JL_DIMS × EMB_DIM deterministic ±1 matrix off md5 — a pure
    function of (i, j), identical in any engine or language."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:15], 16
            )
            % 2
            == 0
            else -1.0
            for i in range(EMB_DIM)
        ]
        for j in range(JL_DIMS)
    ]


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def q164_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    signs = _jl_signs()
    e = load_emb(spark, sf_dir).filter(F.col("vec_id") < JL_SAMPLE)
    y = F.array(
        *[
            _dot(
                F.col("v"),
                F.array(*[F.lit(s) for s in signs[j]]),
            )
            for j in range(JL_DIMS)
        ]
    )
    p = e.select("vec_id", "v", y.alias("y"))
    a = p.select(
        F.col("vec_id").alias("a"),
        F.col("v").alias("va"),
        F.col("y").alias("ya"),
    )
    b = p.select(
        F.col("vec_id").alias("b"),
        F.col("v").alias("vb"),
        F.col("y").alias("yb"),
    )
    pairs = a.join(F.broadcast(b), F.col("a") < F.col("b"))
    d2o = _sqdist(F.col("va"), F.col("vb"))
    d2p = _sqdist(F.col("ya"), F.col("yb"))
    return (
        pairs.select(
            "a",
            "b",
            d2o.alias("d2_orig"),
            d2p.alias("d2_proj"),
            F.when(
                d2o > 0.0,
                d2p / (F.lit(float(JL_DIMS)) * d2o),
            ).alias("distortion"),
        )
        .orderBy("a", "b")
    )


QUERIES["q164_jl_projection"] = q164_jl_projection


def _jl_sign_sql(j: int, signs: list[list[float]]) -> str:
    lits = ", ".join(f"{s!r}::DOUBLE" for s in signs[j])
    return (
        "list_reduce(list_prepend(0.0, "
        f"list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> v[i] * ([{lits}])[i])), (acc, x) -> acc + x)"
    )


_JL_SIGNS = _jl_signs()

_JL_PROJ = ", ".join(_jl_sign_sql(j, _JL_SIGNS) for j in range(JL_DIMS))

_JL_SQD = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(generate_series(1, len({a})), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (acc, x) -> acc + x)"
)

ORACLE["q164_jl_projection"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < {JL_SAMPLE}
),
p AS (
  SELECT vec_id, v, [{_JL_PROJ}]::DOUBLE[] AS y FROM e
),
pr AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         {_JL_SQD.format(a="a.v", b="b.v")} AS d2_orig,
         {_JL_SQD.format(a="a.y", b="b.y")} AS d2_proj
  FROM p a JOIN p b ON a.vec_id < b.vec_id
)
SELECT a, b, d2_orig, d2_proj,
       CASE WHEN d2_orig > 0.0
            THEN d2_proj / ({float(JL_DIMS)!r}::DOUBLE * d2_orig)
            ELSE NULL END AS distortion
FROM pr ORDER BY a, b
"""


# --------------------------------------------------------------------------
# q206: IVF nprobe→recall tuning curve — q124 audits recall at the
# ONE deployed probe width; this sweeps nprobe ∈ NPROBE_SWEEP and
# publishes the macro recall@K curve against the exhaustive truth,
# which is THE knob-setting artifact for an IVF deployment (pick the
# smallest nprobe on the curve's plateau). Monotone by construction
# (wider probes only add candidates).
#
# Determinism: each sweep point is q21's exact plan with a different
# probe literal; recall counts are exact int64 set intersections
# against q20's truth. Scale shape: the sweep shares the broadcast
# centroid assignment across points; each point adds one probe join
# + K-row intersection — |sweep|·cost(q21), all TakeOrdered-capped.
# The oracle re-renders q21's SQL per probe width (pattern-pinned by
# an assertion so the substitution cannot silently drift).
# --------------------------------------------------------------------------

NPROBE_SWEEP = (1, 2, 3)


def q206_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q20_ann_bruteforce(spark, sf_dir).select(
        "query_id", "vec_id"
    ).localCheckpoint(eager=False)
    k_tot = F.broadcast(
        exact.groupBy().agg(F.count("*").cast("long").alias("k_total"))
    )
    legs = []
    for np_ in NPROBE_SWEEP:
        approx = ann_ivf(spark, sf_dir, np_).select(
            "query_id", "vec_id"
        )
        hit = exact.join(approx, ["query_id", "vec_id"]).groupBy().agg(
            F.count("*").cast("long").alias("n_hit")
        )
        legs.append(
            hit.crossJoin(k_tot).select(
                F.lit(np_).cast("int").alias("nprobe"),
                "k_total",
                "n_hit",
                (
                    F.col("n_hit").cast("double")
                    / F.col("k_total").cast("double")
                ).alias("recall_at_k"),
            )
        )
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)
    return u.orderBy("nprobe")


QUERIES["q206_nprobe_curve"] = q206_nprobe_curve


def _ivf_oracle(nprobe: int) -> str:
    base = ORACLE["q21_ann_ivf"]
    pat = f"r <= {IVF_NPROBE}"
    assert base.count(pat) == 1, "q21 oracle probe clause moved"
    return base.replace(pat, f"r <= {nprobe}")


_NPROBE_LEGS = " UNION ALL ".join(
    f"""
SELECT {np_}::INT AS nprobe,
       (SELECT count(*) FROM exact)::BIGINT AS k_total,
       count(*)::BIGINT AS n_hit,
       CAST(count(*) AS DOUBLE)
         / CAST((SELECT count(*) FROM exact) AS DOUBLE) AS recall_at_k
FROM exact e JOIN ({_ivf_oracle(np_)}) a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
"""
    for np_ in NPROBE_SWEEP
)

ORACLE["q206_nprobe_curve"] = (
    f"""
WITH exact AS (
  SELECT query_id, vec_id FROM ({ORACLE["q20_ann_bruteforce"]})
)
"""
    + _NPROBE_LEGS
    + "\nORDER BY nprobe"
)


# --------------------------------------------------------------------------
# q209: embedding-norm hygiene audit — the first thing a vector-
# platform on-call checks when recall dips: norm collapse (an encoder
# bug zeroing vectors), norm drift per label, and outliers. Cosine
# retrieval is norm-invariant only if norms are SANE — zero or huge
# norms poison IVF training (q43) and SQ quantization (q61). Per
# label: exact-int count, norm percentiles (q39's exact rank probe),
# and the global outlier count beyond NORM_OUT_LO/HI.
#
# Determinism: norms are sqrt of the _dot fold — bit-identical (the
# q192 sqrt rule); percentiles exact rank probes over (norm, vec_id)
# total orders; outlier thresholds literal compares. Scale shape:
# map-only norms, one rank window per label, 3-row probes, a 1-row
# outlier census joined alongside.
# --------------------------------------------------------------------------

NORM_OUT_LO = 0.5
NORM_OUT_HI = 2.0
NORM_QS = (0.5, 0.9)


def q209_embedding_norms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    e = _with_norm(load_emb(spark, sf_dir)).select(
        "vec_id", "label", F.col("nrm").alias("norm")
    )
    w = Window.partitionBy("label").orderBy("norm", "vec_id")
    ranked = e.withColumn("r", F.row_number().over(w) - 1)
    n = e.groupBy("label").agg(F.count("*").alias("n"))
    qs = spark.createDataFrame([(q,) for q in NORM_QS], "q double")
    pos = (
        n.crossJoin(F.broadcast(qs))
        .withColumn("pos", F.col("q") * (F.col("n") - 1))
        .withColumn("lo", F.floor("pos").cast("long"))
        .withColumn("hi", F.ceil("pos").cast("long"))
    )
    rl = ranked.select(
        "label", F.col("r").alias("lo"), F.col("norm").alias("vlo")
    )
    rh = ranked.select(
        "label", F.col("r").alias("hi"), F.col("norm").alias("vhi")
    )
    vals = (
        pos.join(rl, ["label", "lo"])
        .join(rh, ["label", "hi"])
        .withColumn(
            "val",
            F.col("vlo")
            + (F.col("pos") - F.col("lo")) * (F.col("vhi") - F.col("vlo")),
        )
    )
    aggs = [
        F.round(
            F.max(F.when(F.col("q") == F.lit(q), F.col("val"))), 9
        ).alias(f"p{int(q * 100)}")
        for q in NORM_QS
    ]
    per_label = vals.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"), *aggs
    )
    outliers = F.broadcast(
        e.groupBy().agg(
            F.sum(
                F.when(
                    (F.col("norm") < NORM_OUT_LO)
                    | (F.col("norm") > NORM_OUT_HI),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return (
        per_label.crossJoin(outliers)
        .select("label", "n_vecs", "p50", "p90", "n_outliers")
        .orderBy("label")
    )


QUERIES["q209_embedding_norms"] = q209_embedding_norms

_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(0.0, "
    "list_transform(generate_series(1, len(v)), i -> v[i] * v[i])), "
    "(acc, x) -> acc + x))"
)

_NORM_QCOLS = ", ".join(
    f"round(max(CASE WHEN q = {q!r} THEN val END), 9) AS p{int(q * 100)}"
    for q in NORM_QS
)

_NORM_QVALS = ", ".join(f"({q!r}::DOUBLE)" for q in NORM_QS)

ORACLE["q209_embedding_norms"] = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
nm AS (SELECT vec_id, label, {_NORM_SQL} AS norm FROM e),
ranked AS (
  SELECT label, norm,
         row_number() OVER (PARTITION BY label
                            ORDER BY norm, vec_id) - 1 AS r
  FROM nm
),
n AS (SELECT label, count(*) AS n FROM nm GROUP BY label),
qs AS (SELECT unnest([{_NORM_QVALS}]) AS q),
pos AS (
  SELECT label, n, q, q * (n - 1) AS pos,
         CAST(floor(q * (n - 1)) AS BIGINT) AS lo,
         CAST(ceil(q * (n - 1)) AS BIGINT) AS hi
  FROM n, qs
),
vals AS (
  SELECT p.label, p.n, p.q,
         rl.norm + (p.pos - p.lo) * (rh.norm - rl.norm) AS val
  FROM pos p
  JOIN ranked rl ON p.label = rl.label AND p.lo = rl.r
  JOIN ranked rh ON p.label = rh.label AND p.hi = rh.r
),
outl AS (
  SELECT sum(CASE WHEN norm < {NORM_OUT_LO!r}::DOUBLE
                    OR norm > {NORM_OUT_HI!r}::DOUBLE
             THEN 1 ELSE 0 END)::BIGINT AS n_outliers
  FROM nm
)
SELECT label, max(n)::BIGINT AS n_vecs, {_NORM_QCOLS},
       (SELECT n_outliers FROM outl) AS n_outliers
FROM vals GROUP BY label ORDER BY label
"""
