"""Iterative PageRank as a DataFrame join-aggregate, oracle-checked.

The engine's real PageRank (``searchengine_spark/pagerank.py``) runs the
reference math (0.85 transfer, +0.15 base, L∞ stop —
jobs/PageRank.java:75,107,120-142) over the crawled link graph and is
validated against the committed oracle goldens. The PageRank entries here
(q27, and the q112/q133/q143/q145/q185 variants) run that same kernel,
``pagerank.power_iteration``, over a graph derived from the TPC-H-shaped
tables — the bipartite part↔supplier graph of ``lineitem`` — with a
DuckDB oracle (iterations unrolled as CTEs).

Determinism across parallelism AND across engines: ranks are carried as
exact int64 fixed-point at 1e-12 (``u`` = rank × 10^12) and per-edge
contributions are floor((17·u) / (20·outdeg)) — 0.85 is exactly 17/20,
so every iteration is pure integer arithmetic: bit-identical in any
engine, and the per-node sum is order-insensitive at any parallelism
(the same rule SURVEY §7.3 imposes on the index). The earlier
DECIMAL(28,12) form quantized a DOUBLE product with round(x, 12), which
diverges between Spark (exact-binary HALF_UP) and DuckDB (scaled float
round) by 1 ulp of 1e-12 near quantization boundaries — invisible at
sf0.01, but sf0.1's in-degrees hit boundaries every run. Integer floor
division has no boundary to disagree on.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pagerank import (
    PR_BASE_U,
    PR_ONE_U,
    PR_SCALE,
    power_iteration,
    power_rounds,
    to_rank,
)
from . import _tables

N_ITERS = 3
SUPP_OFFSET = 1_000_000  # supplier node ids, disjoint from part ids
QDEC = "decimal(28,12)"

# The oracles' spelling of pagerank.share: 0.85·u/outdeg as exact integer
# floor division (17/20 == 0.85 exactly).
_PR_CONTRIB_SQL = "(17 * r.u) // (20 * o.outdeg)"
_TELEPORT = {"u": PR_BASE_U}


def edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric bipartite edges part <-> supplier from lineitem."""
    li = _tables.load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("part"),
        (F.col("l_suppkey").cast("long") + SUPP_OFFSET).alias("supp"),
    ).distinct()
    fwd = li.select(F.col("part").alias("src"), F.col("supp").alias("dst"))
    rev = li.select(F.col("supp").alias("src"), F.col("part").alias("dst"))
    return fwd.unionAll(rev)


def endpoints(e: DataFrame) -> DataFrame:
    """Distinct (node) over both edge endpoints."""
    return (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def q27_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges(spark, sf_dir).localCheckpoint(eager=False)
    ranks = power_iteration(e, endpoints(e), _TELEPORT, rounds=N_ITERS)
    return ranks.select("node", to_rank("u").alias("rank")).orderBy("node")


# --------------------------------------------------------------------------
# q112: PERSONALIZED PageRank (topic-sensitive teleport, Haveliwala
# 2002) — the same power iteration as q27 but the +0.15 base mass
# teleports only to a seed set instead of every node, so rank measures
# proximity-to-seeds (the "trusted hosts" / TrustRank shape a webspam
# pipeline runs next to global PageRank: spam mass = global − trusted).
# Seeds here: part nodes with node % PPR_SEED_MOD == 0.
#
# Scale shape: identical to q27 — per round one equi-join + one
# per-node int64 sum; the seed indicator is a pure expression on the
# node id (on a real graph, a broadcast seed list). Contributions are
# exact integer fixed-point (see module docstring), so ranks are
# bit-stable at any parallelism AND across engines; unreachable nodes
# settle at exactly 0.
# --------------------------------------------------------------------------

PPR_SEED_MOD = 10


def _ppr_seed() -> Column:
    return (F.col("node") < SUPP_OFFSET) & (F.col("node") % PPR_SEED_MOD == 0)


def q112_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = edges(spark, sf_dir).localCheckpoint(eager=False)
    seed = _ppr_seed()
    ranks = power_iteration(
        e,
        endpoints(e),
        {"u": F.when(seed, F.lit(PR_BASE_U)).otherwise(0)},
        init={"u": F.when(seed, F.lit(PR_ONE_U)).otherwise(0)},
        rounds=N_ITERS,
    )
    return ranks.select(
        "node", seed.cast("int").alias("is_seed"), to_rank("u").alias("ppr")
    ).orderBy("node")


# --------------------------------------------------------------------------
# q58: per-node triangle counting over the co-purchase projection
# (parts sharing an order). The projection pairs items WITHIN one order
# — order size is bounded (~7 lineitems), so edge generation is linear
# in lineitem, never a global cross product. Counting orients every
# edge low→high by the total order (degree, node): each triangle is
# then rooted exactly once at its minimum vertex, and — the scale
# property — every node's out-degree is O(sqrt(m)), so the wedge join
# (out-neighbor pairs per root) is O(m^1.5) instead of Σdeg² on the
# raw graph; hub nodes generate no wedges at all. Pure integer math —
# no float portability hazards. The oracle is the naive id-oriented
# 3-way self-join: the degree-oriented rewrite must find exactly the
# same triangles (semantically invisible, like q49/q57's plain twins).
# --------------------------------------------------------------------------


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected edges (pa < pb) between parts co-occurring in
    an order."""
    op = (
        _tables.load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").cast("long").alias("p"),
        )
        .distinct()
    )
    a = op.select("ok", F.col("p").alias("pa"))
    b = op.select("ok", F.col("p").alias("pb"))
    return (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )


def q58_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_counts(copurchase_edges(spark, sf_dir))


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """(node, degree, n_triangles) from distinct undirected (pa < pb)
    edges, via degree-ordered orientation.

    ``pairs`` feeds THREE consumers (degrees, orientation, the semi-join
    verify) — cache(), not localCheckpoint: the edge table is the BIG
    frame here, and a lazy localCheckpoint stores it as raw rows with no
    columnar compression and no plan statistics (measured 9.7 s → 40.7 s
    at sf0.1). The result is eagerly localCheckpointed instead (per-node
    rows, tiny) so the cache can be released before returning — repeated
    registry invocations leave nothing pinned."""
    pairs = pairs.cache()
    deg = (
        pairs.select(F.col("pa").alias("v"))
        .unionAll(pairs.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    e = pairs.join(
        deg.select(F.col("v").alias("pa"), F.col("deg").alias("da")), "pa"
    ).join(deg.select(F.col("v").alias("pb"), F.col("deg").alias("db")), "pb")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = e.select(
        F.when(lower_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(lower_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
    )
    o1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    o2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = o1.join(o2, "u").filter(F.col("v") < F.col("w"))
    tri = wedges.join(
        pairs, (F.col("v") == F.col("pa")) & (F.col("w") == F.col("pb")), "left_semi"
    )
    per_node = (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    out = (
        deg.select(F.col("v").alias("node"), "deg")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
        )
        # eager: materialize the per-node counts NOW so the big cached
        # edge table can be unpersisted before returning (q59's idiom —
        # iterative/multi-pass graph entries run jobs at construction)
        .localCheckpoint()
    )
    pairs.unpersist()
    return out.orderBy("node")


# --------------------------------------------------------------------------
# q59: HITS hubs/authorities over the supplier→part bipartite graph —
# the GLOBAL-normalization iterative pattern (q27's pagerank normalizes
# per-node by outdegree; HITS divides every score by the graph-wide L1
# mass each half-round). Per-round shape: one equi-join + one exact
# DECIMAL(28,12) aggregation per side, plus a 1-row L1 scalar that
# rides a broadcast — the fact table never shuffles for the
# normalization. Scores quantized to 12dp before every sum (order-
# insensitive at any parallelism), ONE double division per half-round.
# --------------------------------------------------------------------------

HITS_ITERS = 3


def q59_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _tables.load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").cast("long").alias("hub"),
            F.col("l_partkey").cast("long").alias("auth"),
        )
        .distinct()
    )
    return hits_scores(e)


def hits_scores(e: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """(node, kind, score) from distinct bipartite (hub, auth) edges;
    each side L1-normalized per half-round.

    ``e`` feeds two joins per round — cache(), not a lazy
    localCheckpoint: raw-row checkpoint storage loses columnar
    compression on the big edge table (measured 8.4 s → 12.7 s at
    sf0.1). The per-round hub/auth scores ARE eagerly
    localCheckpointed, so by loop exit nothing lazy references ``e``
    and it can be unpersisted — repeated registry invocations leave
    no CacheManager entries behind."""
    e = e.cache()
    hubs = e.select("hub").distinct().withColumn("h", F.lit(1.0))
    auths = None
    for _ in range(iters):
        a_raw = (
            e.join(hubs, "hub")
            .select("auth", F.round("h", 12).cast(QDEC).alias("hq"))
            .groupBy("auth")
            .agg(F.sum("hq").alias("ar"))
        )
        s_a = a_raw.agg(F.sum("ar").alias("sa"))
        auths = a_raw.crossJoin(F.broadcast(s_a)).select(
            "auth",
            (F.col("ar").cast("double") / F.col("sa").cast("double")).alias("a"),
        ).localCheckpoint()
        h_raw = (
            e.join(auths, "auth")
            .select("hub", F.round("a", 12).cast(QDEC).alias("aq"))
            .groupBy("hub")
            .agg(F.sum("aq").alias("hr"))
        )
        s_h = h_raw.agg(F.sum("hr").alias("sh"))
        hubs = h_raw.crossJoin(F.broadcast(s_h)).select(
            "hub",
            (F.col("hr").cast("double") / F.col("sh").cast("double")).alias("h"),
        ).localCheckpoint()
    e.unpersist()
    return (
        hubs.select(
            F.col("hub").alias("node"),
            F.lit("hub").alias("kind"),
            F.round("h", 9).alias("score"),
        )
        .unionAll(
            auths.select(
                F.col("auth").alias("node"),
                F.lit("auth").alias("kind"),
                F.round("a", 9).alias("score"),
            )
        )
        .orderBy("kind", "node")
    )


QUERIES = {
    "q27_pagerank": q27_pagerank,
    "q112_personalized_pagerank": q112_personalized_pagerank,
    "q58_triangles": q58_triangles,
    "q59_hits": q59_hits,
}

_PPR_SEED_SQL = f"(node < {SUPP_OFFSET} AND node % {PPR_SEED_MOD} = 0)"


# DuckDB sum(BIGINT) widens to HUGEINT; the ::BIGINT cast keeps u an
# int64 like Spark's (values are ~10^13, nowhere near the edge). // is
# DuckDB's floor division — identical to Spark's `div` on non-negative
# operands.
def _ppr_iteration_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT n.node,
         (CASE WHEN {_PPR_SEED_SQL.replace("node", "n.node")}
               THEN {PR_BASE_U} ELSE 0 END
          + coalesce(s.s, 0))::BIGINT AS u
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum({_PR_CONTRIB_SQL}) AS s
    FROM e JOIN {prev} r ON e.src = r.node
           JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.node = s.dst
)"""


def _iteration_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT n.node, ({PR_BASE_U} + coalesce(s.s, 0))::BIGINT AS u
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum({_PR_CONTRIB_SQL}) AS s
    FROM e JOIN {prev} r ON e.src = r.node
           JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.node = s.dst
)"""


_ITER_CTES = ",".join(_iteration_sql(f"r{i}", f"r{i + 1}") for i in range(N_ITERS))

ORACLE = {
    "q27_pagerank": f"""
WITH li AS (
  SELECT DISTINCT l_partkey::BIGINT AS part,
                  l_suppkey::BIGINT + {SUPP_OFFSET} AS supp
  FROM lineitem
),
e AS (
  SELECT part AS src, supp AS dst FROM li
  UNION ALL
  SELECT supp AS src, part AS dst FROM li
),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node, {PR_ONE_U}::BIGINT AS u FROM nodes),
{_ITER_CTES}
SELECT node, CAST(u AS DOUBLE) / CAST('1e12' AS DOUBLE) AS rank
FROM r{N_ITERS} ORDER BY node
""",
}

_PPR_ITER_CTES = ",".join(
    _ppr_iteration_sql(f"r{i}", f"r{i + 1}") for i in range(N_ITERS)
)

# q112: q27's unrolled chain with the teleport CASE'd to the seed set
# and r0 = the seed indicator.
ORACLE["q112_personalized_pagerank"] = f"""
WITH li AS (
  SELECT DISTINCT l_partkey::BIGINT AS part,
                  l_suppkey::BIGINT + {SUPP_OFFSET} AS supp
  FROM lineitem
),
e AS (
  SELECT part AS src, supp AS dst FROM li
  UNION ALL
  SELECT supp AS src, part AS dst FROM li
),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node,
              CASE WHEN {_PPR_SEED_SQL} THEN {PR_ONE_U} ELSE 0 END::BIGINT AS u
       FROM nodes),
{_PPR_ITER_CTES}
SELECT node,
       CASE WHEN {_PPR_SEED_SQL} THEN 1 ELSE 0 END::INT AS is_seed,
       CAST(u AS DOUBLE) / CAST('1e12' AS DOUBLE) AS ppr
FROM r{N_ITERS} ORDER BY node
"""

# q58 oracle: the naive id-oriented 3-way self-join — the degree-
# oriented engine rewrite must count exactly the same triangles.
ORACLE["q58_triangles"] = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
e AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
deg AS (
  SELECT v, count(*) AS deg
  FROM (SELECT pa AS v FROM e UNION ALL SELECT pb AS v FROM e)
  GROUP BY v
),
tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM e e1
  JOIN e e2 ON e1.pa = e2.pa AND e1.pb < e2.pb
  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
),
pn AS (
  SELECT node, count(*) AS n
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri)
  GROUP BY node
)
SELECT d.v AS node, d.deg::BIGINT AS degree,
       coalesce(pn.n, 0)::BIGINT AS n_triangles
FROM deg d LEFT JOIN pn ON pn.node = d.v
ORDER BY node
"""


def _hits_round_sql(hp: str, an: str, hn: str) -> str:
    """One HITS round: authorities from hubs table ``hp``, then hubs
    from those authorities; same quantize-sum-normalize as the engine."""
    # L1 mass rides a 1-row CROSS JOIN (same shape as the engine's
    # broadcast scalar); MATERIALIZED stops DuckDB from inlining and
    # re-evaluating the whole chain per reference (5.4s -> 0.1s at
    # sf0.01 — a scalar subquery here re-planned the CTE per use).
    return f"""
{an}r AS MATERIALIZED (
  SELECT auth, sum(round(p.h, 12)::DECIMAL(28,12)) AS ar
  FROM e JOIN {hp} p USING (hub) GROUP BY auth
),
{an}s AS (SELECT sum(ar) AS sa FROM {an}r),
{an} AS (
  SELECT auth, ar::DOUBLE / sa::DOUBLE AS a FROM {an}r CROSS JOIN {an}s
),
{hn}r AS MATERIALIZED (
  SELECT hub, sum(round(p.a, 12)::DECIMAL(28,12)) AS hr
  FROM e JOIN {an} p USING (auth) GROUP BY hub
),
{hn}s AS (SELECT sum(hr) AS sh FROM {hn}r),
{hn} AS (
  SELECT hub, hr::DOUBLE / sh::DOUBLE AS h FROM {hn}r CROSS JOIN {hn}s
)"""


_HITS_CTES = ",".join(
    _hits_round_sql(f"h{i}", f"a{i + 1}", f"h{i + 1}") for i in range(HITS_ITERS)
)

ORACLE["q59_hits"] = f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT l_suppkey::BIGINT AS hub, l_partkey::BIGINT AS auth
  FROM lineitem
),
h0 AS (SELECT DISTINCT hub, 1.0::DOUBLE AS h FROM e),
{_HITS_CTES}
SELECT hub AS node, 'hub' AS kind, round(h, 9) AS score FROM h{HITS_ITERS}
UNION ALL
SELECT auth AS node, 'auth' AS kind, round(a, 9) AS score FROM a{HITS_ITERS}
ORDER BY kind, node
"""


# --------------------------------------------------------------------------
# q122: multi-source BFS hop layers — "how far is every node from the
# seed set", the crawl-depth / link-distance primitive (the reference's
# crawler explores exactly this frontier ordering, Crawler.java's
# queue; PageRank/HITS need the same edge iteration but weighted).
# Bounded to BFS_MAX_HOPS rounds; hop = exact shortest distance for
# nodes within the bound, unreachable/farther nodes are absent.
#
# Spark side: classic frontier iteration — each round is one equi-join
# (edges x frontier), a distinct, and an anti-join against the settled
# set, all hash shuffles on int64 keys; the frontier SHRINKS as the
# reachable set saturates, so round cost decays. The H-round loop is
# unrolled lazily (H=4 keeps the plan shallow); at diameter scale you'd
# localCheckpoint per round (q59's idiom) or switch to q38's
# pointer-doubling for O(log n) closure. Oracle: DuckDB recursive CTE
# with UNION-dedup, min(hop) per node — BFS distance by definition.
# --------------------------------------------------------------------------

BFS_MAX_HOPS = 4
BFS_SEED_MOD = 97  # seeds: part nodes with id % 97 == 0


def q122_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges(spark, sf_dir).localCheckpoint(eager=False)
    seeds = (
        e.select(F.col("src").alias("node"))
        .filter(
            (F.col("node") < SUPP_OFFSET)
            & (F.col("node") % BFS_SEED_MOD == 0)
        )
        .distinct()
    )
    return bfs_layers(e, seeds, BFS_MAX_HOPS)


def bfs_layers(e: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """(node, hop) min-hop BFS from `seeds` over directed (src, dst)
    edges, bounded to max_hops rounds."""
    dist = seeds.withColumn("hop", F.lit(0))
    frontier = seeds
    for h in range(1, max_hops + 1):
        nxt = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        # each layer is materialized once (q38/q59's idiom): `new` feeds
        # BOTH the settled union and the next frontier/anti-join — without
        # the checkpoint the unrolled lineage recomputes every earlier
        # round per later round (O(H^2) joins)
        new = (
            nxt.join(dist, "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint()
        )
        dist = dist.unionAll(new)
        frontier = new
    return dist.orderBy("hop", "node")


QUERIES["q122_bfs_layers"] = q122_bfs_layers

# --------------------------------------------------------------------------
# q130: synchronous label-propagation communities (Raghavan et al. 2007)
# over the co-purchase graph — the community-detection primitive a
# training-data pipeline runs to group near-duplicate *clusters* into
# topical families (q38's connected components merge everything
# touching; LPA splits a connected graph into dense cells). Each node
# adopts the most frequent label among its neighbors, ties broken by
# the smallest label — a deterministic total rule, so the fixed-round
# unroll is bit-identical in any engine and at any parallelism (no
# randomized visit order, which classic async LPA needs; synchronous
# min-tie LPA is the portable variant).
#
# Scale shape per round: one int64 equi-join (edges × labels), one
# (node, label)-keyed hash count, one per-node top-1. The count agg
# collapses hub neighborhoods BEFORE the top-1, so per-node state is
# |distinct neighbor labels|, not degree; the top-1 is a window here
# (one extra hash shuffle on node) — at 100 TB swap it for
# max_by(label, (cnt, -label)) in the same agg pass. Rounds are
# localCheckpointed (q59/q122 idiom) so lineage stays O(rounds).
# --------------------------------------------------------------------------

LPA_ITERS = 2


def q130_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_propagation(copurchase_edges(spark, sf_dir))


def label_propagation(pairs: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """(node, community, community_size) after ``iters`` synchronous
    label-propagation rounds over distinct undirected (pa < pb) edges."""
    e = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(
            pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        .cache()
    )
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(iters):
        cnt = (
            e.join(labels, e.src == labels.node)
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            # materialize each round: `labels` feeds the next round's join
            # and the final size agg — without this the unrolled lineage
            # recomputes earlier rounds per consumer
            .localCheckpoint()
        )
    sizes = labels.groupBy("label").agg(
        F.count("*").alias("community_size")
    )
    out = labels.join(sizes, "label").select(
        "node",
        F.col("label").alias("community"),
        "community_size",
    )
    e.unpersist()
    return out.orderBy("node")


QUERIES["q130_label_propagation"] = q130_label_propagation


def _lpa_round_sql(prev: str, cur: str) -> str:
    return f"""
{cur}c AS (
  SELECT e.dst AS node, l.label, count(*) AS cnt
  FROM e JOIN {prev} l ON e.src = l.node
  GROUP BY e.dst, l.label
),
{cur} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (
             PARTITION BY node ORDER BY cnt DESC, label ASC
           ) AS rn
    FROM {cur}c
  ) WHERE rn = 1
)"""


_LPA_CTES = ",".join(
    _lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(LPA_ITERS)
)

ORACLE["q130_label_propagation"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL
  SELECT pb AS src, pa AS dst FROM und
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
{_LPA_CTES},
sizes AS (
  SELECT label, count(*) AS community_size
  FROM l{LPA_ITERS} GROUP BY label
)
SELECT l.node, l.label AS community, s.community_size
FROM l{LPA_ITERS} l JOIN sizes s USING (label)
ORDER BY node
"""


ORACLE["q122_bfs_layers"] = f"""
WITH RECURSIVE li AS (
  SELECT DISTINCT l_partkey::BIGINT AS part,
                  l_suppkey::BIGINT + {SUPP_OFFSET} AS supp
  FROM lineitem
),
e AS (
  SELECT part AS src, supp AS dst FROM li
  UNION ALL
  SELECT supp AS src, part AS dst FROM li
),
seeds AS (
  SELECT DISTINCT src AS node FROM e
  WHERE src < {SUPP_OFFSET} AND src % {BFS_SEED_MOD} = 0
),
bfs(node, hop) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.dst, bfs.hop + 1
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.hop < {BFS_MAX_HOPS}
)
SELECT node, min(hop)::INT AS hop
FROM bfs GROUP BY node ORDER BY hop, node
"""


# --------------------------------------------------------------------------
# q133: host-level authority — supernode-collapsed WEIGHTED PageRank.
# A web ranking pipeline runs authority at host granularity next to
# doc-level PageRank (host rank bootstraps never-before-crawled pages
# and damps single-page link spam: a page inherits its host's prior).
# The reference blends only doc-level rank (SearchEngine scores one
# crawl's pages); this is the scale-out companion the same corpus needs
# at web size. Here the "host" of a part node is its brand and of a
# supplier node its nation — the host key of the synthetic graph — and
# the collapse is exactly a URL→host collapse: map each endpoint
# through the member→host table, aggregate edge multiplicity into a
# weight, drop intra-host (nepotistic) edges.
#
# Scale shape: ONE hash agg keyed by (hsrc, hdst) collapses the
# doc-level edge list (linear, map-side combinable: |hosts|² keys);
# the power iteration then runs on the HOST graph — for the real web
# ~10^8 hosts vs ~10^11 docs, three orders smaller — and the member
# join-back is a broadcast of |hosts| rows. Determinism: same exact
# int64 fixed-point rule as q27, extended to weights — per-source
# v = (17·u) div (20·wdeg) is floored ONCE, then each edge contributes
# w·v, so every value is pure integer arithmetic (w·v ≤ u·(17/20)·
# (w/wdeg) ≤ u ≈ |hosts|·10^12 — no int64 overflow at any scale where
# |hosts|·10^12 < 2^63/17), bit-identical across engines and at any
# parallelism.
# --------------------------------------------------------------------------

HOST_NATION_OFFSET = 100  # nation-host ids, disjoint from brand hosts 11-55


def member_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, host): part nodes -> brand digits, supplier nodes (q27's
    SUPP_OFFSET id space) -> nation + HOST_NATION_OFFSET."""
    part = _tables.load(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("node"),
        F.substring("p_brand", 7, 2).cast("int").alias("host"),
    )
    supp = _tables.load(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey").cast("long") + SUPP_OFFSET).alias("node"),
        (F.col("s_nationkey").cast("int") + HOST_NATION_OFFSET).alias(
            "host"
        ),
    )
    return part.unionAll(supp)


def q133_hostrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _tables.load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").cast("long").alias("part"),
            (F.col("l_suppkey").cast("long") + SUPP_OFFSET).alias("supp"),
        )
        .distinct()
    )
    hmap = member_hosts(spark, sf_dir)
    # collapse: member edge list -> weighted host pairs (one hash agg;
    # hmap is |members|-small here and |hosts|-broadcast at web scale)
    hpair = (
        li.join(hmap.withColumnRenamed("node", "part"), "part")
        .withColumnRenamed("host", "hsrc")
        .join(
            hmap.withColumnRenamed("node", "supp").withColumnRenamed(
                "host", "hdst"
            ),
            "supp",
        )
        .filter(F.col("hsrc") != F.col("hdst"))  # drop nepotistic links
        .groupBy("hsrc", "hdst")
        .agg(F.count("*").alias("w"))
    )
    he = hpair.unionAll(
        hpair.select(
            F.col("hdst").alias("hsrc"), F.col("hsrc").alias("hdst"), "w"
        )
    ).localCheckpoint(eager=False)
    ranks = power_iteration(
        he.select(F.col("hsrc").alias("src"), F.col("hdst").alias("dst"), "w"),
        he.select(F.col("hsrc").alias("node")).distinct(),
        _TELEPORT,
        rounds=N_ITERS,
    )
    hostrank = ranks.select(
        F.col("node").alias("host"), to_rank("u").alias("host_rank")
    )
    # member join-back: every graph node inherits its host's authority —
    # a broadcast join of |hosts| rows against the member list
    members = (
        li.select(F.col("part").alias("node"))
        .unionAll(li.select(F.col("supp").alias("node")))
        .distinct()
    )
    return (
        members.join(hmap, "node")
        .join(F.broadcast(hostrank), "host")
        .select("node", "host", "host_rank")
        .orderBy("node")
    )


QUERIES["q133_hostrank"] = q133_hostrank


def _hostrank_round_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT n.host, ({PR_BASE_U} + coalesce(s.s, 0))::BIGINT AS u
  FROM hnodes n LEFT JOIN (
    SELECT e.hdst, sum(e.w * ((17 * r.u) // (20 * d.wdeg)))::BIGINT AS s
    FROM he e JOIN {prev} r ON e.hsrc = r.host
              JOIN wdeg d ON e.hsrc = d.hsrc
    GROUP BY e.hdst
  ) s ON n.host = s.hdst
)"""


_HOSTRANK_CTES = ",".join(
    _hostrank_round_sql(f"h{i}", f"h{i + 1}") for i in range(N_ITERS)
)

ORACLE["q133_hostrank"] = f"""
WITH li AS (
  SELECT DISTINCT l_partkey::BIGINT AS part,
                  l_suppkey::BIGINT + {SUPP_OFFSET} AS supp
  FROM lineitem
),
hmap AS (
  SELECT p_partkey::BIGINT AS node,
         CAST(substr(p_brand, 7, 2) AS INT) AS host
  FROM part
  UNION ALL
  SELECT s_suppkey::BIGINT + {SUPP_OFFSET},
         s_nationkey::INT + {HOST_NATION_OFFSET}
  FROM supplier
),
hpair AS (
  SELECT hp.host AS hsrc, hs.host AS hdst, count(*)::BIGINT AS w
  FROM li JOIN hmap hp ON li.part = hp.node
          JOIN hmap hs ON li.supp = hs.node
  WHERE hp.host <> hs.host
  GROUP BY 1, 2
),
he AS (
  SELECT hsrc, hdst, w FROM hpair
  UNION ALL
  SELECT hdst, hsrc, w FROM hpair
),
hnodes AS (SELECT DISTINCT hsrc AS host FROM he),
wdeg AS (SELECT hsrc, sum(w)::BIGINT AS wdeg FROM he GROUP BY hsrc),
h0 AS (SELECT host, {PR_ONE_U}::BIGINT AS u FROM hnodes),
{_HOSTRANK_CTES},
members AS (
  SELECT DISTINCT node FROM (
    SELECT part AS node FROM li UNION ALL SELECT supp FROM li
  )
)
SELECT m.node, hm.host,
       CAST(r.u AS DOUBLE) / CAST('1e12' AS DOUBLE) AS host_rank
FROM members m JOIN hmap hm ON m.node = hm.node
               JOIN h{N_ITERS} r ON hm.host = r.host
ORDER BY m.node
"""


# --------------------------------------------------------------------------
# q135: k-core peeling over the co-purchase graph — the dense-subgraph
# primitive a webspam pipeline runs on the host graph (link farms are
# high-k cores; spam-mass detection seeds from them) and a curation
# pipeline runs on the near-dup graph (a dup CLUSTER from q38 is any
# connected blob; a dup CORE is mutually-linked enough to be template
# spam). Synchronous peel: each round removes every node whose degree
# over SURVIVING edges is < K — the parallel variant of Matula-Beck
# peeling. K is DATA-DERIVED as floor(0.8 · avg degree) in exact
# integer arithmetic ((4·Σdeg) div (5·|V|), identical in both
# engines), so the peel discriminates at ANY corpus scale — a fixed
# literal K degenerates as density grows with SF, and K at or above
# the mean cascades a homogeneous graph to an empty core (measured:
# 9/10·avg empties all three fixtures; 4/5·avg cores 44–79%). Fixed KCORE_ROUNDS unroll (the q27 / q59 / q130
# idiom: bounded lineage, oracle-expressible); converges to the true
# K-core as rounds grow and the round count is part of the contract.
#
# Scale shape per round: two semi-joins of the edge list against the
# survivor set + one per-node count — all equi-joins on int64 keys;
# K rides a 1-row broadcast (never a driver collect); the survivor set
# shrinks monotonically so later rounds cost less (q122's
# shrinking-frontier property). Pure integer outputs.
# --------------------------------------------------------------------------

KCORE_ROUNDS = 3


def q135_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore_peel(copurchase_edges(spark, sf_dir))


def kcore_peel(pairs: DataFrame, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """(node, degree, k, in_core) after ``rounds`` synchronous peels at
    the data-derived threshold k = (4·Σdeg) div (5·|V|) over distinct
    undirected (pa < pb) edges. ``degree`` is the ORIGINAL degree;
    ``in_core`` marks round-``rounds`` survivors."""
    e = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(
            pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    deg0 = e.groupBy("src").agg(F.count("*").alias("degree"))
    # k = (4·Σdeg) div (5·|V|), exact int64 — materialized once
    # (1 row) because every round's filter references it
    k_row = (
        deg0.agg(
            F.sum("degree").cast("long").alias("sd"),
            F.count("*").alias("nv"),
        )
        .select(F.expr("(4 * sd) div (5 * nv)").cast("long").alias("k"))
        .localCheckpoint()
    )
    alive = (
        deg0.crossJoin(F.broadcast(k_row))
        .filter(F.col("degree") >= F.col("k"))
        .select(F.col("src").alias("node"))
    )
    for _ in range(rounds - 1):
        live_e = e.join(
            alive.withColumnRenamed("node", "src"), "src", "left_semi"
        ).join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
        deg = live_e.groupBy("src").agg(F.count("*").alias("d"))
        # materialize each round: `alive` feeds both semi-joins of the
        # next round (q130's idiom)
        alive = (
            deg.crossJoin(F.broadcast(k_row))
            .filter(F.col("d") >= F.col("k"))
            .select(F.col("src").alias("node"))
            .localCheckpoint()
        )
    return (
        deg0.select(F.col("src").alias("node"), "degree")
        .crossJoin(F.broadcast(k_row))
        .join(alive.withColumn("in_core", F.lit(1)), "node", "left")
        .select(
            "node",
            "degree",
            "k",
            F.coalesce(F.col("in_core"), F.lit(0)).cast("int").alias(
                "in_core"
            ),
        )
        .orderBy("node")
    )


QUERIES["q135_kcore"] = q135_kcore


def _kcore_round_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT e.src AS node FROM e
  JOIN {prev} a ON e.src = a.node
  JOIN {prev} b ON e.dst = b.node
  GROUP BY e.src HAVING count(*) >= (SELECT k FROM kv)
)"""


_KCORE_CTES = ",".join(
    _kcore_round_sql(f"a{i}", f"a{i + 1}") for i in range(KCORE_ROUNDS - 1)
)

ORACLE["q135_kcore"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL
  SELECT pb AS src, pa AS dst FROM und
),
deg0 AS (SELECT src, count(*) AS degree FROM e GROUP BY src),
kv AS (
  SELECT ((4 * (SELECT sum(degree) FROM deg0))
          // (5 * (SELECT count(*) FROM deg0)))::BIGINT AS k
),
a0 AS (SELECT src AS node FROM deg0 WHERE degree >= (SELECT k FROM kv)),
{_KCORE_CTES}
SELECT d.src AS node, d.degree, (SELECT k FROM kv) AS k,
       CASE WHEN s.node IS NULL THEN 0 ELSE 1 END::INT AS in_core
FROM deg0 d LEFT JOIN a{KCORE_ROUNDS - 1} s ON d.src = s.node
ORDER BY node
"""


# --------------------------------------------------------------------------
# q136: degree assortativity (Newman 2002) over the co-purchase graph —
# the one-number structural audit a webgraph pipeline runs before
# trusting degree-based heuristics (hub caps, salting thresholds,
# degree-ordered triangle orientation all assume roughly-neutral degree
# mixing; a strongly disassortative graph breaks the O(m^1.5) wedge
# bound's constants). r = Pearson correlation of the endpoint degrees
# over every DIRECTED representation of each undirected edge; by the
# symmetry of that representation Σx = Σy and Σx² = Σy², so
# r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — no sqrt needed.
#
# Cross-engine exactness: all five sufficient statistics are exact
# int64 sums (degrees are ints; Σxy at sf0.1 ≈ 1e9, far under 2^63 —
# the 100 TB path swaps the partials to DECIMAL(38,0), nothing else
# changes); `assortativity` is ONE identical IEEE tree over those
# exact integers — each input < 2^53 casts exactly, so both engines
# produce the bit-identical double without any round().
#
# Scale shape: one (node) hash agg for degrees, one broadcast-joinable
# degree attach per endpoint (|nodes| rows each side — at real scale a
# shuffle-hash join on int64 keys), then ONE 1-row global agg with
# map-side combine. No window, no driver loop, nothing quadratic.
# --------------------------------------------------------------------------


def q136_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = copurchase_edges(spark, sf_dir)
    deg = (
        pairs.select(F.col("pa").alias("v"))
        .unionAll(pairs.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    e = pairs.join(
        deg.select(F.col("v").alias("pa"), F.col("deg").alias("da")), "pa"
    ).join(
        deg.select(F.col("v").alias("pb"), F.col("deg").alias("db")), "pb"
    )
    # both directed orientations of each undirected edge
    d = e.select(F.col("da").alias("x"), F.col("db").alias("y")).unionAll(
        e.select(F.col("db").alias("x"), F.col("da").alias("y"))
    )
    s = d.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_xx"),
    )
    nn = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    return s.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.expr("m div 2").cast("long").alias("n_edges"),
        "sum_x",
        "sum_xy",
        "sum_xx",
        (
            (
                F.col("m").cast("double") * F.col("sum_xy").cast("double")
                - F.col("sum_x").cast("double") * F.col("sum_x").cast("double")
            )
            / (
                F.col("m").cast("double") * F.col("sum_xx").cast("double")
                - F.col("sum_x").cast("double") * F.col("sum_x").cast("double")
            )
        ).alias("assortativity"),
    )


QUERIES["q136_assortativity"] = q136_assortativity

ORACLE["q136_assortativity"] = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
deg AS (
  SELECT v, count(*)::BIGINT AS deg
  FROM (SELECT pa AS v FROM und UNION ALL SELECT pb AS v FROM und)
  GROUP BY v
),
d AS (
  SELECT da.deg AS x, db.deg AS y
  FROM und JOIN deg da ON und.pa = da.v JOIN deg db ON und.pb = db.v
  UNION ALL
  SELECT db.deg AS x, da.deg AS y
  FROM und JOIN deg da ON und.pa = da.v JOIN deg db ON und.pb = db.v
),
s AS (
  SELECT count(*)::BIGINT AS m,
         sum(x)::BIGINT AS sum_x,
         sum(x * y)::BIGINT AS sum_xy,
         sum(x * x)::BIGINT AS sum_xx
  FROM d
)
SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
       (m // 2)::BIGINT AS n_edges,
       sum_x, sum_xy, sum_xx,
       (CAST(m AS DOUBLE) * CAST(sum_xy AS DOUBLE)
        - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
       / (CAST(m AS DOUBLE) * CAST(sum_xx AS DOUBLE)
          - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
         AS assortativity
FROM s
"""


# --------------------------------------------------------------------------
# q137: co-citation relatedness (Small 1973 — the "related pages"
# feature: two nodes are related when the same documents cite them
# both). Citers here are orders, cited nodes suppliers; a citer's
# out-degree is bounded by order size (~7), so the per-citer pair
# explode is LINEAR in citations — the property that makes co-citation
# tractable where a supplier-rooted projection (out-degree ~600 at
# sf0.1) would be quadratic. Score is cosine-normalized co-citation
# count c/√(na·nb); ranking and the LIMIT cut use the exact-integer
# (cocite DESC, sa, sb) total order, never the float.
#
# 100 TB shape: one (citer) self-join with bounded fan-out, one
# (sa, sb) hash agg with map-side combine, two |cited|-row count
# attaches (broadcast here; shuffle-hash on int64 at real scale),
# TakeOrderedAndProject for the cut. On a real webgraph the bounded-
# fan-out premise is enforced by a hub cap on citer out-degree (the
# stop-shingle idiom, q100) — orders are capped by construction.
# --------------------------------------------------------------------------

COCITE_MIN = 2  # min shared citers to call a pair related
COCITE_TOP = 200


def q137_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cite = (
        _tables.load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_suppkey").cast("long").alias("supp"),
        )
        .distinct()
    )
    n_cites = cite.groupBy("supp").agg(F.count("*").cast("long").alias("n"))
    a = cite.select("ok", F.col("supp").alias("sa"))
    b = cite.select("ok", F.col("supp").alias("sb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").cast("long").alias("cocite"))
        .filter(F.col("cocite") >= COCITE_MIN)
    )
    out = (
        pairs.join(
            F.broadcast(n_cites.select(F.col("supp").alias("sa"),
                                       F.col("n").alias("na"))), "sa"
        )
        .join(
            F.broadcast(n_cites.select(F.col("supp").alias("sb"),
                                       F.col("n").alias("nb"))), "sb"
        )
        .select(
            "sa", "sb", "cocite", "na", "nb",
            (
                F.col("cocite").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("score"),
        )
    )
    return out.orderBy(
        F.col("cocite").desc(), F.col("sa").asc(), F.col("sb").asc()
    ).limit(COCITE_TOP)


QUERIES["q137_cocitation"] = q137_cocitation

ORACLE["q137_cocitation"] = f"""
WITH cite AS (
  SELECT DISTINCT l_orderkey AS ok, l_suppkey::BIGINT AS supp FROM lineitem
),
nc AS (SELECT supp, count(*)::BIGINT AS n FROM cite GROUP BY supp),
pairs AS (
  SELECT a.supp AS sa, b.supp AS sb, count(*)::BIGINT AS cocite
  FROM cite a JOIN cite b ON a.ok = b.ok AND a.supp < b.supp
  GROUP BY 1, 2
  HAVING count(*) >= {COCITE_MIN}
)
SELECT sa, sb, cocite, na.n AS na, nb.n AS nb,
       CAST(cocite AS DOUBLE)
       / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS score
FROM pairs JOIN nc na ON pairs.sa = na.supp JOIN nc nb ON pairs.sb = nb.supp
ORDER BY cocite DESC, sa ASC, sb ASC
LIMIT {COCITE_TOP}
"""


# --------------------------------------------------------------------------
# q139: neighborhood-function estimation — HyperBall (Boldi/Rosa/Vigna
# WSDM'11): per node, estimate |ball(v, r)| by giving every node an HLL
# register set seeded with its own id and MAX-merging registers along
# edges for r rounds. THE web-graph reach/centrality primitive — exact
# per-node ball counting is Θ(n·ball) state, the sketch is O(n·2^p) and
# every round is ONE equi-join + ONE (node, bucket) MAX agg (MAX is
# commutative/associative/idempotent: partial register tables from any
# partitioning merge exactly — q44's portability argument).
#
# Cross-engine exactness: registers derive from the portable md5-based
# 60-bit hash (q44's recipe) and merge as integers — bit-identical
# anywhere; the estimate is the Flajolet formula (linear-counting
# branch for small balls) with float constants embedded ::DOUBLE and
# the result rounded to 9dp on BOTH engines (q44's precedent).
# p=6 (64 registers) keeps per-node state ≤ 64 rows — at 100 TB the
# register table is |nodes|·≤64 rows per round, shuffled on (node),
# and rounds localCheckpoint so lineage stays O(rounds).
# --------------------------------------------------------------------------

HB_P = 6
HB_M = 1 << HB_P
HB_W = 60 - HB_P
HB_ALPHA = 0.7213 / (1 + 1.079 / HB_M)
HB_ROUNDS = 2


def _hb_regs0(nodes: DataFrame) -> DataFrame:
    h = F.conv(
        F.substring(F.md5(F.col("node").cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = h.bitwiseAND(F.lit((1 << HB_W) - 1))
    rho = F.when(w == 0, F.lit(HB_W + 1)).otherwise(
        F.instr(F.lpad(F.bin(w), HB_W, "0"), "1")
    )
    return nodes.select(
        "node", F.shiftright(h, HB_W).alias("bucket"), rho.alias("mrho")
    )


def q139_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = copurchase_edges(spark, sf_dir)
    e = (
        und.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    regs = _hb_regs0(nodes)
    for _ in range(HB_ROUNDS):
        prop = e.join(regs, e.src == regs.node).select(
            F.col("dst").alias("node"), "bucket", "mrho"
        )
        regs = (
            regs.unionAll(prop)
            .groupBy("node", "bucket")
            .agg(F.max("mrho").alias("mrho"))
            .localCheckpoint(eager=False)
        )
    term = F.pow(F.lit(2.0), F.lit(HB_W + 1) - F.col("mrho")).cast("long")
    s = regs.groupBy("node").agg(
        F.sum(term).cast("long").alias("s_present"),
        F.count("*").cast("long").alias("n_present"),
    )
    s_all = F.col("s_present") + (
        F.lit(HB_M) - F.col("n_present")
    ) * F.lit(1 << (HB_W + 1))
    v = F.lit(HB_M) - F.col("n_present")
    raw = (
        F.lit(HB_ALPHA)
        * F.lit(float(HB_M))
        * F.lit(float(HB_M))
        * F.pow(F.lit(2.0), F.lit(HB_W + 1))
        / s_all
    )
    est = F.when(
        (raw <= 2.5 * HB_M) & (v > 0),
        F.lit(float(HB_M)) * F.log(F.lit(float(HB_M)) / v),
    ).otherwise(raw)
    return (
        s.join(deg, "node")
        .select(
            "node",
            "degree",
            F.col("n_present").alias("regs_present"),
            # UNROUNDED: both engines compute the identical IEEE tree
            # over identical integer inputs — bit-identity is stronger
            # than round(x, 9), whose half-ulp ties diverge between
            # engines (CLAUDE.md q67 lesson; hit at sf0.1 here)
            est.alias("ball2_est"),
        )
        .orderBy("node")
    )


QUERIES["q139_hyperball"] = q139_hyperball


def _hb_round_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT node, bucket, max(mrho) AS mrho FROM (
    SELECT e.dst AS node, r.bucket, r.mrho
    FROM e JOIN {prev} r ON e.src = r.node
    UNION ALL
    SELECT node, bucket, mrho FROM {prev}
  ) GROUP BY node, bucket
)"""


_HB_CTES = ",".join(
    _hb_round_sql(f"g{i}", f"g{i + 1}") for i in range(HB_ROUNDS)
)

ORACLE["q139_hyperball"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL
  SELECT pb AS src, pa AS dst FROM und
),
nodes AS (SELECT DISTINCT src AS node FROM e),
deg AS (SELECT src AS dnode, count(*)::BIGINT AS degree FROM e GROUP BY src),
h AS (
  SELECT node,
         ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM nodes
),
g0 AS (
  SELECT node, h >> {HB_W} AS bucket,
         CASE WHEN (h & {(1 << HB_W) - 1}) = 0 THEN {HB_W + 1}
              ELSE strpos(lpad(bin(h & {(1 << HB_W) - 1}), {HB_W}, '0'), '1')
         END AS mrho
  FROM h
),
{_HB_CTES},
s AS (
  SELECT node,
         sum(CAST(pow(2.0, {HB_W + 1} - mrho) AS BIGINT))::BIGINT AS s_present,
         count(*)::BIGINT AS n_present
  FROM g{HB_ROUNDS} GROUP BY node
),
fin AS (
  SELECT node, n_present,
         CASE WHEN {HB_ALPHA!r}::DOUBLE * {float(HB_M)!r}::DOUBLE
                   * {float(HB_M)!r}::DOUBLE * pow(2.0, {HB_W + 1})
                   / (s_present + ({HB_M} - n_present) * {1 << (HB_W + 1)})
                   <= {2.5 * HB_M!r}::DOUBLE
                   AND ({HB_M} - n_present) > 0
              THEN {float(HB_M)!r}::DOUBLE
                   * ln({float(HB_M)!r}::DOUBLE / ({HB_M} - n_present))
              ELSE {HB_ALPHA!r}::DOUBLE * {float(HB_M)!r}::DOUBLE
                   * {float(HB_M)!r}::DOUBLE * pow(2.0, {HB_W + 1})
                   / (s_present + ({HB_M} - n_present) * {1 << (HB_W + 1)})
         END AS est
  FROM s
)
SELECT f.node, d.degree, f.n_present AS regs_present,
       f.est AS ball2_est
FROM fin f JOIN deg d ON f.node = d.dnode
ORDER BY node
"""


# --------------------------------------------------------------------------
# q141: local clustering coefficient (Watts/Strogatz 1998) — the
# per-node "how clique-like is my neighborhood" metric a webspam
# pipeline reads next to degree (link farms show near-1.0 clustering at
# high degree; organic hubs sit near 0). Pure composition: q58's
# degree-ordered triangle counts (O(m^1.5), the scale path) + one
# map-only expression — c = 2·tri / (deg·(deg−1)), a single IEEE
# division over exact ints, CASE'd to 0 for deg < 2 so there is no
# 0-division branch to diverge on.
# --------------------------------------------------------------------------


def q141_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tc = triangle_counts(copurchase_edges(spark, sf_dir))
    coeff = F.when(
        F.col("degree") >= 2,
        (F.lit(2) * F.col("n_triangles")).cast("double")
        / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
    ).otherwise(F.lit(0.0))
    return tc.select(
        "node", "degree", "n_triangles", coeff.alias("clustering")
    ).orderBy("node")


QUERIES["q141_clustering_coefficient"] = q141_clustering_coefficient

ORACLE["q141_clustering_coefficient"] = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
e AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
deg AS (
  SELECT v, count(*) AS deg
  FROM (SELECT pa AS v FROM e UNION ALL SELECT pb AS v FROM e)
  GROUP BY v
),
tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM e e1
  JOIN e e2 ON e1.pa = e2.pa AND e1.pb < e2.pb
  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
),
pn AS (
  SELECT node, count(*) AS n
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri)
  GROUP BY node
)
SELECT d.v AS node, d.deg::BIGINT AS degree,
       coalesce(pn.n, 0)::BIGINT AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN CAST(2 * coalesce(pn.n, 0) AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN pn ON pn.node = d.v
ORDER BY node
"""


# --------------------------------------------------------------------------
# q143: PageRank convergence audit — per-iteration L1 and L∞ deltas of
# the rank vector, the monitoring table an iterative job publishes so
# an operator (or an auto-stopper) can see whether the fixed round
# budget was enough. The reference's own PageRank stops on an L∞
# threshold (jobs/PageRank.java:120-142); this entry measures exactly
# that quantity per round for q27's iteration.
#
# Exactness: ranks are q27's exact int64 fixed-point, so deltas are
# exact integer |u_r − u_{r−1}| sums/maxes — bit-identical anywhere,
# order-insensitive at any parallelism. Output is N_ITERS rows.
# Scale shape: q27's per-round join-agg and nothing more — each round
# carries the previous u (prev_u), so a delta is a 1-row agg with no
# join; the audit rides the iteration it monitors instead of re-running
# it.
# --------------------------------------------------------------------------


def q143_pagerank_convergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = edges(spark, sf_dir).localCheckpoint(eager=False)
    d = F.abs(F.col("u") - F.col("prev_u"))
    deltas = [
        ranks.agg(
            F.lit(i).cast("long").alias("iteration"),
            F.sum(d).cast("long").alias("l1_delta_u"),
            F.max(d).cast("long").alias("linf_delta_u"),
        )
        for i, ranks in zip(
            range(1, N_ITERS + 1), power_rounds(e, endpoints(e), _TELEPORT)
        )
    ]
    return reduce(DataFrame.unionAll, deltas).orderBy("iteration")


QUERIES["q143_pagerank_convergence"] = q143_pagerank_convergence

_PRC_DELTAS = " UNION ALL ".join(
    f"""SELECT {i + 1}::BIGINT AS iteration,
       sum(abs(b.u - a.u))::BIGINT AS l1_delta_u,
       max(abs(b.u - a.u))::BIGINT AS linf_delta_u
FROM r{i} a JOIN r{i + 1} b ON a.node = b.node"""
    for i in range(N_ITERS)
)

ORACLE["q143_pagerank_convergence"] = f"""
WITH li AS (
  SELECT DISTINCT l_partkey::BIGINT AS part,
                  l_suppkey::BIGINT + {SUPP_OFFSET} AS supp
  FROM lineitem
),
e AS (
  SELECT part AS src, supp AS dst FROM li
  UNION ALL
  SELECT supp AS src, part AS dst FROM li
),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node, {PR_ONE_U}::BIGINT AS u FROM nodes),
{_ITER_CTES}
{_PRC_DELTAS}
ORDER BY iteration
"""


# --------------------------------------------------------------------------
# q145: TrustRank spam mass (Gyöngyi/Garcia-Molina/Pedersen VLDB'04) —
# the webspam audit a search pipeline runs beside ranking: global
# PageRank measures total authority, trusted-seed PageRank (q112's
# teleport shape) measures authority reachable from vetted hosts, and
# the gap — spam mass = (pr − tr)/pr — flags nodes whose rank is
# mostly endorsed by nobody trustworthy. Reference ties: rides the
# same 0.85/0.15 iteration as jobs/PageRank.java:96-118.
#
# Scale shape: BOTH chains ride ONE equi-join + ONE per-node sum per
# round (u and v are two int64 columns of the same ranks frame — the
# composition costs zero extra shuffles over q27 alone). Exact int64
# fixed-point throughout (u = rank·10¹², contribution
# (17·u) div (20·outdeg)), so u, v, and the pure-integer flag compare
# (u−v)·100 ≥ SPAM_PCT·u are bit-stable at any parallelism and across
# engines; v ≤ u by induction (smaller teleport, same monotone
# contraction), so mass_u is non-negative. The two ratio columns are
# one identical IEEE division tree on both engines, emitted UNROUNDED
# (round(x,9) half-ulp ties diverge cross-engine — CLAUDE.md q67/q139).
# --------------------------------------------------------------------------

SPAM_PCT = 60  # flag when the untrusted share of rank reaches 60%


def q145_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges(spark, sf_dir).localCheckpoint(eager=False)
    seed = _ppr_seed()
    ranks = power_iteration(
        e,
        endpoints(e),
        {"u": PR_BASE_U, "v": F.when(seed, F.lit(PR_BASE_U)).otherwise(0)},
        init={"v": F.when(seed, F.lit(PR_ONE_U)).otherwise(0)},
        rounds=N_ITERS,
    )
    return ranks.select(
        "node",
        seed.cast("int").alias("is_seed"),
        to_rank("u").alias("pr"),
        to_rank("v").alias("tr"),
        (F.col("u") - F.col("v")).cast("long").alias("mass_u"),
        (
            (F.col("u") - F.col("v")).cast("double")
            / F.col("u").cast("double")
        ).alias("spam_mass"),
        ((F.col("u") - F.col("v")) * 100 >= F.lit(SPAM_PCT) * F.col("u"))
        .cast("int")
        .alias("spam_flag"),
    ).orderBy("node")


QUERIES["q145_spam_mass"] = q145_spam_mass


def _spam_iteration_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT n.node,
         ({PR_BASE_U} + coalesce(s.su, 0))::BIGINT AS u,
         (CASE WHEN {_PPR_SEED_SQL.replace("node", "n.node")}
               THEN {PR_BASE_U} ELSE 0 END
          + coalesce(s.sv, 0))::BIGINT AS v
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum({_PR_CONTRIB_SQL}) AS su,
                  sum({_PR_CONTRIB_SQL.replace("r.u", "r.v")}) AS sv
    FROM e JOIN {prev} r ON e.src = r.node
           JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.node = s.dst
)"""


_SPAM_ITER_CTES = ",".join(
    _spam_iteration_sql(f"r{i}", f"r{i + 1}") for i in range(N_ITERS)
)

ORACLE["q145_spam_mass"] = f"""
WITH li AS (
  SELECT DISTINCT l_partkey::BIGINT AS part,
                  l_suppkey::BIGINT + {SUPP_OFFSET} AS supp
  FROM lineitem
),
e AS (
  SELECT part AS src, supp AS dst FROM li
  UNION ALL
  SELECT supp AS src, part AS dst FROM li
),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node, {PR_ONE_U}::BIGINT AS u,
              CASE WHEN {_PPR_SEED_SQL} THEN {PR_ONE_U} ELSE 0 END::BIGINT AS v
       FROM nodes),
{_SPAM_ITER_CTES}
SELECT node,
       CASE WHEN {_PPR_SEED_SQL} THEN 1 ELSE 0 END::INT AS is_seed,
       CAST(u AS DOUBLE) / CAST('1e12' AS DOUBLE) AS pr,
       CAST(v AS DOUBLE) / CAST('1e12' AS DOUBLE) AS tr,
       (u - v)::BIGINT AS mass_u,
       CAST(u - v AS DOUBLE) / CAST(u AS DOUBLE) AS spam_mass,
       (CASE WHEN (u - v) * 100 >= {SPAM_PCT} * u THEN 1 ELSE 0 END)::INT
         AS spam_flag
FROM r{N_ITERS} ORDER BY node
"""


# --------------------------------------------------------------------------
# q151: neighborhood function / effective-diameter audit (HyperANF,
# Boldi/Rosa/Vigna WWW'11) — the GLOBAL rollup of q139's per-node
# balls: N(r) = Σ_v |ball(v, r)| per round, published as the monotone
# series an analyst reads the effective diameter off (the r where
# frac_of_final crosses 0.9). This is the distance-distribution
# primitive of webgraph studies (e.g. the "four degrees" analyses).
#
# Scale shape: identical per-round cost to q139 (one equi-join + one
# (node,bucket) MAX agg per round); the rollup adds ONE 1-row agg per
# round. Determinism: per-node estimates are q139's exact IEEE tree
# (any change must touch both); the cross-node reduction quantizes
# each estimate to EXACT int64 FIRST — floor(est·10⁶), one identical
# IEEE multiply + floor on both engines — so the sum is order-
# insensitive integer arithmetic (casting the raw double to DECIMAL
# diverges cross-engine: Spark quantizes the exact binary, DuckDB the
# scaled float — CLAUDE.md's q112 trap, reproduced here before the
# fix). NF_QUANT bounds: sum < n·ball_max·10⁶ must stay under 2^63 —
# fine to ~10⁷-node graphs; a 10⁹-node deployment drops the quantum.
# Published floats are identical IEEE trees over the exact integers,
# UNROUNDED.
# --------------------------------------------------------------------------


def _hb_node_est(regs: DataFrame) -> DataFrame:
    """Per-node HLL ball estimate from a register table — the SAME
    expression tree as q139's final select (kept in sync by the q151
    pytest tying round HB_ROUNDS to q139's output)."""
    term = F.pow(F.lit(2.0), F.lit(HB_W + 1) - F.col("mrho")).cast("long")
    s = regs.groupBy("node").agg(
        F.sum(term).cast("long").alias("s_present"),
        F.count("*").cast("long").alias("n_present"),
    )
    s_all = F.col("s_present") + (
        F.lit(HB_M) - F.col("n_present")
    ) * F.lit(1 << (HB_W + 1))
    v = F.lit(HB_M) - F.col("n_present")
    raw = (
        F.lit(HB_ALPHA)
        * F.lit(float(HB_M))
        * F.lit(float(HB_M))
        * F.pow(F.lit(2.0), F.lit(HB_W + 1))
        / s_all
    )
    est = F.when(
        (raw <= 2.5 * HB_M) & (v > 0),
        F.lit(float(HB_M)) * F.log(F.lit(float(HB_M)) / v),
    ).otherwise(raw)
    return s.select(
        "node",
        est.alias("est"),
        F.floor(est * F.lit(float(NF_QUANT))).cast("long").alias("est_u"),
    )


NF_QUANT = 1_000_000  # ball-estimate fixed-point quantum (10^6)


def q151_neighborhood_function(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    und = copurchase_edges(spark, sf_dir)
    e = (
        und.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(
            und.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    regs = _hb_regs0(nodes)
    aggs = []
    for r in range(HB_ROUNDS + 1):
        if r > 0:
            prop = e.join(regs, e.src == regs.node).select(
                F.col("dst").alias("node"), "bucket", "mrho"
            )
            regs = (
                regs.unionAll(prop)
                .groupBy("node", "bucket")
                .agg(F.max("mrho").alias("mrho"))
                .localCheckpoint(eager=False)
            )
        aggs.append(
            _hb_node_est(regs)
            .groupBy()
            .agg(
                F.count("*").cast("long").alias("n_nodes"),
                F.sum("est_u").cast("long").alias("nf_u"),
            )
            .withColumn("r", F.lit(r).cast("long"))
        )
    u = aggs[0]
    for a in aggs[1:]:
        u = u.unionByName(a)
    fin = F.broadcast(
        u.filter(F.col("r") == HB_ROUNDS).select(
            F.col("nf_u").alias("nf_fin_u")
        )
    )
    nd = F.col("n_nodes").cast("double")
    nf = F.col("nf_u").cast("double") / F.lit(float(NF_QUANT))
    return (
        u.crossJoin(fin)
        .select(
            "r",
            "n_nodes",
            F.col("nf_u"),
            nf.alias("nf"),
            (nf / nd).alias("avg_ball"),
            (nf / (nd * nd)).alias("pair_frac"),
            (
                F.col("nf_u").cast("double")
                / F.col("nf_fin_u").cast("double")
            ).alias("frac_of_final"),
        )
        .orderBy("r")
    )


QUERIES["q151_neighborhood_function"] = q151_neighborhood_function


def _hb_est_sql(g: str) -> str:
    """Per-node est over register table ``g`` — q139's fin CTE shape."""
    return f"""(
  SELECT node,
         CASE WHEN {HB_ALPHA!r}::DOUBLE * {float(HB_M)!r}::DOUBLE
                   * {float(HB_M)!r}::DOUBLE * pow(2.0, {HB_W + 1})
                   / (s_present + ({HB_M} - n_present) * {1 << (HB_W + 1)})
                   <= {2.5 * HB_M!r}::DOUBLE
                   AND ({HB_M} - n_present) > 0
              THEN {float(HB_M)!r}::DOUBLE
                   * ln({float(HB_M)!r}::DOUBLE / ({HB_M} - n_present))
              ELSE {HB_ALPHA!r}::DOUBLE * {float(HB_M)!r}::DOUBLE
                   * {float(HB_M)!r}::DOUBLE * pow(2.0, {HB_W + 1})
                   / (s_present + ({HB_M} - n_present) * {1 << (HB_W + 1)})
         END AS est
  FROM (
    SELECT node,
           sum(CAST(pow(2.0, {HB_W + 1} - mrho) AS BIGINT))::BIGINT
             AS s_present,
           count(*)::BIGINT AS n_present
    FROM {g} GROUP BY node
  )
)"""


_NF_ROUNDS = " UNION ALL ".join(
    f"""SELECT {r}::BIGINT AS r, count(*)::BIGINT AS n_nodes,
       sum(CAST(floor(est * {float(NF_QUANT)!r}::DOUBLE) AS BIGINT))::BIGINT
         AS nf_u
FROM {_hb_est_sql(f'g{r}')}"""
    for r in range(HB_ROUNDS + 1)
)

ORACLE["q151_neighborhood_function"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL
  SELECT pb AS src, pa AS dst FROM und
),
nodes AS (SELECT DISTINCT src AS node FROM e),
h AS (
  SELECT node,
         ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM nodes
),
g0 AS (
  SELECT node, h >> {HB_W} AS bucket,
         CASE WHEN (h & {(1 << HB_W) - 1}) = 0 THEN {HB_W + 1}
              ELSE strpos(lpad(bin(h & {(1 << HB_W) - 1}), {HB_W}, '0'), '1')
         END AS mrho
  FROM h
),
{_HB_CTES},
rounds AS MATERIALIZED ({_NF_ROUNDS}),
fin AS (SELECT nf_u AS nf_fin_u FROM rounds WHERE r = {HB_ROUNDS})
SELECT r, n_nodes, nf_u,
       CAST(nf_u AS DOUBLE) / {float(NF_QUANT)!r}::DOUBLE AS nf,
       (CAST(nf_u AS DOUBLE) / {float(NF_QUANT)!r}::DOUBLE)
         / CAST(n_nodes AS DOUBLE) AS avg_ball,
       (CAST(nf_u AS DOUBLE) / {float(NF_QUANT)!r}::DOUBLE)
         / (CAST(n_nodes AS DOUBLE) * CAST(n_nodes AS DOUBLE))
         AS pair_frac,
       CAST(nf_u AS DOUBLE) / CAST(nf_fin_u AS DOUBLE) AS frac_of_final
FROM rounds, fin ORDER BY r
"""


# --------------------------------------------------------------------------
# q153: Adamic–Adar relatedness (Adamic/Adar 2003) — q137's
# co-citation score with the classic link-prediction weighting: a
# shared neighbor counts 1/ln(deg) so promiscuous hubs (an order
# citing many suppliers; a portal page linking everything) contribute
# less than selective ones. The standard link-prediction baseline
# (Liben-Nowell/Kleinberg CIKM'03).
#
# Scale shape: q137's — pairs form WITHIN a center's citation list
# (bounded fan-out), one (sa,sb) hash agg, broadcast degree sides.
# Determinism: the per-center weight is quantized to EXACT int64 at
# the source — floor(10⁹ / ln(deg)), one identical IEEE divide+floor
# on both engines — so the cross-wedge sum is order-insensitive
# integer arithmetic (the q151 lesson: never sum raw doubles across
# an unordered reduction). Centers need deg ≥ 2 to form a wedge, so
# ln(deg) > 0 by construction.
# --------------------------------------------------------------------------

AA_QUANT = 1_000_000_000  # Adamic-Adar weight fixed-point quantum
AA_MIN = 2                # min shared centers to report a pair
AA_TOP = 200


def q153_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    cite = (
        _tables.load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_suppkey").cast("long").alias("supp"),
        )
        .distinct()
    )
    w = (
        cite.groupBy("ok")
        .agg(F.count("*").cast("long").alias("dk"))
        .filter(F.col("dk") >= 2)
        .withColumn(
            "w_u",
            F.floor(
                F.lit(float(AA_QUANT)) / F.log(F.col("dk").cast("double"))
            ).cast("long"),
        )
    )
    a = cite.select("ok", F.col("supp").alias("sa"))
    b = cite.select("ok", F.col("supp").alias("sb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("sa") < F.col("sb"))
        .join(w, "ok")
        .groupBy("sa", "sb")
        .agg(
            F.count("*").cast("long").alias("n_shared"),
            F.sum("w_u").cast("long").alias("aa_u"),
        )
        .filter(F.col("n_shared") >= AA_MIN)
    )
    return (
        pairs.select(
            "sa",
            "sb",
            "n_shared",
            "aa_u",
            (
                F.col("aa_u").cast("double") / F.lit(float(AA_QUANT))
            ).alias("aa"),
        )
        .orderBy(F.desc("aa_u"), F.asc("sa"), F.asc("sb"))
        .limit(AA_TOP)
    )


QUERIES["q153_adamic_adar"] = q153_adamic_adar

ORACLE["q153_adamic_adar"] = f"""
WITH cite AS (
  SELECT DISTINCT l_orderkey AS ok, l_suppkey::BIGINT AS supp
  FROM lineitem
),
w AS (
  SELECT ok, count(*)::BIGINT AS dk,
         CAST(floor({float(AA_QUANT)!r}::DOUBLE
                    / ln(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w_u
  FROM cite GROUP BY ok HAVING count(*) >= 2
),
pr AS (
  SELECT a.supp AS sa, b.supp AS sb,
         count(*)::BIGINT AS n_shared,
         sum(w.w_u)::BIGINT AS aa_u
  FROM cite a JOIN cite b ON a.ok = b.ok AND a.supp < b.supp
              JOIN w ON w.ok = a.ok
  GROUP BY a.supp, b.supp
  HAVING count(*) >= {AA_MIN}
)
SELECT sa, sb, n_shared, aa_u,
       CAST(aa_u AS DOUBLE) / {float(AA_QUANT)!r}::DOUBLE AS aa
FROM pr
ORDER BY aa_u DESC, sa ASC, sb ASC
LIMIT {AA_TOP}
"""


# --------------------------------------------------------------------------
# q157: harmonic centrality via HyperBall (Boldi/Vigna WWW'14 — the
# paper's own motivating application). Harmonic centrality
# H(x) = sum_{r>=1} (|B(x,r)| - |B(x,r-1)|) / r rewards nodes whose
# balls grow EARLY — the closeness variant that stays finite on
# disconnected graphs, which is why it is the centrality a web-graph
# pipeline actually ships (exact closeness needs all-pairs BFS,
# Theta(n·m); the register sketch gives every node's curve in
# HB_ROUNDS scans).
#
# Pure composition over q139's infrastructure: the SAME register
# rounds (one equi-join + one (node,bucket) MAX agg each), but keeping
# each round's per-node estimate instead of only the last. State is
# |nodes|·(R+1) int64s on top of the register table — nothing new
# shuffles. Determinism: per-round estimates quantize to int64 at
# NF_QUANT (q151's recipe); the harmonic sum is computed over the
# quantized integers with the lcm(1..R)=2 trick so every engine-side
# reduction is exact integer arithmetic — the published double is ONE
# identical IEEE division at the end, UNROUNDED. (MAX-merged registers
# make per-node estimates monotone in r except across the
# linear-counting/raw branch switch; a negative increment there is an
# estimator property, identical on both engines.)
# --------------------------------------------------------------------------


def q157_harmonic_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    und = copurchase_edges(spark, sf_dir)
    e = (
        und.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(
            und.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    regs = _hb_regs0(nodes)
    balls = []
    for r in range(HB_ROUNDS + 1):
        if r > 0:
            prop = e.join(regs, e.src == regs.node).select(
                F.col("dst").alias("node"), "bucket", "mrho"
            )
            regs = (
                regs.unionAll(prop)
                .groupBy("node", "bucket")
                .agg(F.max("mrho").alias("mrho"))
                .localCheckpoint(eager=False)
            )
        balls.append(
            _hb_node_est(regs).select(
                "node", F.col("est_u").alias(f"b{r}_u")
            )
        )
    j = balls[0]
    for b in balls[1:]:
        j = j.join(b, "node")
    # lcm(1..2)=2: H·2·QUANT = 2·(b1-b0) + 1·(b2-b1) — exact int64
    h2_u = (
        F.lit(2) * (F.col("b1_u") - F.col("b0_u"))
        + (F.col("b2_u") - F.col("b1_u"))
    ).cast("long")
    return (
        j.join(deg, "node")
        .select(
            "node",
            "degree",
            "b0_u",
            "b1_u",
            "b2_u",
            h2_u.alias("h2_u"),
            (
                h2_u.cast("double")
                / F.lit(float(2 * NF_QUANT))
            ).alias("harmonic"),
        )
        .orderBy("node")
    )


QUERIES["q157_harmonic_centrality"] = q157_harmonic_centrality

_HC_BALLS = ",".join(
    f"""est{r} AS (
  SELECT node,
         CAST(floor(est * {float(NF_QUANT)!r}::DOUBLE) AS BIGINT) AS b{r}_u
  FROM {_hb_est_sql(f'g{r}')}
)"""
    for r in range(HB_ROUNDS + 1)
)

ORACLE["q157_harmonic_centrality"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL
  SELECT pb AS src, pa AS dst FROM und
),
nodes AS (SELECT DISTINCT src AS node FROM e),
deg AS (SELECT src AS dnode, count(*)::BIGINT AS degree FROM e GROUP BY src),
h AS (
  SELECT node,
         ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM nodes
),
g0 AS (
  SELECT node, h >> {HB_W} AS bucket,
         CASE WHEN (h & {(1 << HB_W) - 1}) = 0 THEN {HB_W + 1}
              ELSE strpos(lpad(bin(h & {(1 << HB_W) - 1}), {HB_W}, '0'), '1')
         END AS mrho
  FROM h
),
{_HB_CTES},
{_HC_BALLS}
SELECT e0.node, d.degree, e0.b0_u, e1.b1_u, e2.b2_u,
       (2 * (e1.b1_u - e0.b0_u) + (e2.b2_u - e1.b1_u))::BIGINT AS h2_u,
       CAST(2 * (e1.b1_u - e0.b0_u) + (e2.b2_u - e1.b1_u) AS DOUBLE)
         / {float(2 * NF_QUANT)!r}::DOUBLE AS harmonic
FROM est0 e0 JOIN est1 e1 ON e0.node = e1.node
             JOIN est2 e2 ON e0.node = e2.node
             JOIN deg d ON e0.node = d.dnode
ORDER BY e0.node
"""


# --------------------------------------------------------------------------
# q162: bow-tie reachability decomposition (Broder et al. WWW'00 — THE
# macroscopic web-graph census: CORE / IN / OUT / DISCONNECTED around
# a strongly-connected nucleus). A crawler team reads this to size the
# frontier problem (IN pages can reach the core but need discovery;
# OUT pages are sinks the crawler drains into). Here over the directed
# co-purchase SEQUENCE graph (part at line i → part at line i+1 within
# an order — the navigation-order analog of the synthetic corpus), and
# R-hop bounded: classes are defined by reachability within BT_HOPS
# rounds of the pivot (the max-degree node), the bounded census a
# 100 TB pipeline actually computes (full transitive closure is
# diameter-many rounds of the same join — BT_HOPS bounds cost and is
# reported in the row so readers know the radius).
#
# Scale shape: TWO bounded BFS runs (q122's frontier loop — per round
# one equi-join + anti-join, frontier shrinks, localCheckpoint bounds
# lineage) — one forward, one on the reversed edge set — then class =
# a map-only expression over two left-join flags; the census is a
# 4-row agg. Pivot selection is a TakeOrderedAndProject (1 row), then
# broadcast — in-plan, zero driver jobs. All counts exact int64;
# shares ONE IEEE division each, UNROUNDED.
# --------------------------------------------------------------------------

BT_HOPS = 2  # radius 2 splits the fixture graph into all four classes


def _seq_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = (
        _tables.load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").cast("long").alias("ln"),
            F.col("l_partkey").cast("long").alias("part"),
        )
        .distinct()
    )
    # the synthetic lineitem has duplicate (ok, ln) pairs — (ln, part)
    # makes the per-order walk a TOTAL order (remaining ties are equal
    # rows, whose lead-pairs form the same edge set), so lead() is
    # deterministic on both engines
    w = Window.partitionBy("ok").orderBy("ln", "part")
    return (
        li.withColumn("nxt", F.lead("part").over(w))
        .filter(F.col("nxt").isNotNull() & (F.col("nxt") != F.col("part")))
        .select(F.col("part").alias("src"), F.col("nxt").alias("dst"))
        .distinct()
    )


def q162_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _seq_edges(spark, sf_dir).localCheckpoint(eager=False)
    er = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    pivot = deg.orderBy(F.desc("deg"), F.asc("node")).limit(1).select("node")
    fwd = (
        bfs_layers(e, pivot, BT_HOPS)
        .select("node", F.lit(1).alias("f"))
    )
    bwd = (
        bfs_layers(er, pivot, BT_HOPS)
        .select("node", F.lit(1).alias("b"))
    )
    cls = (
        nodes.join(fwd, "node", "left")
        .join(bwd, "node", "left")
        .select(
            "node",
            F.when(
                F.col("f").isNotNull() & F.col("b").isNotNull(), "core"
            )
            .when(F.col("b").isNotNull(), "in")
            .when(F.col("f").isNotNull(), "out")
            .otherwise("disc")
            .alias("component"),
        )
    )
    counts = cls.groupBy("component").agg(
        F.count("*").cast("long").alias("n_nodes")
    )
    frame = spark.createDataFrame(
        [("core",), ("in",), ("out",), ("disc",)], "component string"
    )
    total = F.broadcast(
        nodes.groupBy().agg(F.count("*").cast("long").alias("n_total"))
    )
    return (
        frame.join(counts, "component", "left")
        .crossJoin(total)
        .select(
            "component",
            F.coalesce(F.col("n_nodes"), F.lit(0))
            .cast("long")
            .alias("n_nodes"),
            "n_total",
            F.lit(BT_HOPS).cast("int").alias("radius"),
            (
                F.coalesce(F.col("n_nodes"), F.lit(0)).cast("double")
                / F.col("n_total").cast("double")
            ).alias("share"),
        )
        .orderBy("component")
    )


QUERIES["q162_bowtie"] = q162_bowtie

ORACLE["q162_bowtie"] = f"""
WITH RECURSIVE li AS (
  SELECT DISTINCT l_orderkey AS ok, l_linenumber::BIGINT AS ln,
         l_partkey::BIGINT AS part
  FROM lineitem
),
sq AS (
  SELECT part, lead(part) OVER (PARTITION BY ok ORDER BY ln, part) AS nxt
  FROM li
),
e AS MATERIALIZED (
  SELECT DISTINCT part AS src, nxt AS dst FROM sq
  WHERE nxt IS NOT NULL AND nxt <> part
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
),
deg AS (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  ) GROUP BY node
),
pv AS (
  SELECT node FROM deg ORDER BY deg DESC, node ASC LIMIT 1
),
fwd(node, hop) AS (
  SELECT node, 0 FROM pv
  UNION
  SELECT e.dst, fwd.hop + 1 FROM fwd JOIN e ON e.src = fwd.node
  WHERE fwd.hop < {BT_HOPS}
),
bwd(node, hop) AS (
  SELECT node, 0 FROM pv
  UNION
  SELECT e.src, bwd.hop + 1 FROM bwd JOIN e ON e.dst = bwd.node
  WHERE bwd.hop < {BT_HOPS}
),
f AS (SELECT DISTINCT node FROM fwd),
b AS (SELECT DISTINCT node FROM bwd),
cls AS (
  SELECT n.node,
         CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL THEN 'core'
              WHEN b.node IS NOT NULL THEN 'in'
              WHEN f.node IS NOT NULL THEN 'out'
              ELSE 'disc' END AS component
  FROM nodes n LEFT JOIN f ON n.node = f.node
               LEFT JOIN b ON n.node = b.node
),
counts AS (
  SELECT component, count(*)::BIGINT AS n_nodes FROM cls GROUP BY component
),
frame AS (
  SELECT * FROM (VALUES ('core'), ('in'), ('out'), ('disc')) t(component)
),
tot AS (SELECT count(*)::BIGINT AS n_total FROM nodes)
SELECT fr.component,
       COALESCE(c.n_nodes, 0)::BIGINT AS n_nodes,
       tot.n_total,
       {BT_HOPS}::INT AS radius,
       CAST(COALESCE(c.n_nodes, 0) AS DOUBLE) / CAST(tot.n_total AS DOUBLE)
         AS share
FROM frame fr LEFT JOIN counts c ON fr.component = c.component, tot
ORDER BY fr.component
"""


# --------------------------------------------------------------------------
# q173: edge reciprocity of the directed co-purchase sequence graph —
# the directedness diagnostic read next to q136's assortativity: a
# navigation/sequence graph whose edges are mostly reciprocated is
# really an undirected co-occurrence structure (order carries no
# signal, and the PageRank family degenerates toward degree), while
# low reciprocity means direction is informative (q27/q145 ranks mean
# something). Global r = |reciprocated| / |edges| plus the per-node
# out-edge reciprocity distribution head.
#
# Scale shape: ONE left_semi self-join of the edge set against its
# own transpose (equi-join on (src,dst) — never a cartesian), one
# (src) hash agg, one 1-row global census broadcast into the output.
# All counts exact int64; ratios single IEEE divisions, UNROUNDED.
# --------------------------------------------------------------------------

RECIP_TOP = 100


def q173_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _seq_edges(spark, sf_dir).localCheckpoint(eager=False)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    per_node = (
        e.groupBy("src")
        .agg(F.count("*").cast("long").alias("out_deg"))
        .join(
            recip.groupBy("src").agg(
                F.count("*").cast("long").alias("n_recip")
            ),
            "src",
            "left",
        )
        .withColumn(
            "n_recip",
            F.coalesce(F.col("n_recip"), F.lit(0)).cast("long"),
        )
    )
    glob = F.broadcast(
        per_node.groupBy().agg(
            F.sum("out_deg").cast("long").alias("n_edges"),
            F.sum("n_recip").cast("long").alias("n_recip_total"),
        )
    )
    return (
        per_node.crossJoin(glob)
        .select(
            F.col("src").alias("node"),
            "out_deg",
            "n_recip",
            (
                F.col("n_recip").cast("double")
                / F.col("out_deg").cast("double")
            ).alias("node_reciprocity"),
            "n_edges",
            "n_recip_total",
            (
                F.col("n_recip_total").cast("double")
                / F.col("n_edges").cast("double")
            ).alias("global_reciprocity"),
        )
        .orderBy(
            F.desc("n_recip"), F.desc("out_deg"), F.asc("node")
        )
        .limit(RECIP_TOP)
    )


QUERIES["q173_reciprocity"] = q173_reciprocity

ORACLE["q173_reciprocity"] = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_linenumber::BIGINT AS ln,
         l_partkey::BIGINT AS part
  FROM lineitem
),
sq AS (
  SELECT part, lead(part) OVER (PARTITION BY ok ORDER BY ln, part) AS nxt
  FROM li
),
e AS (
  SELECT DISTINCT part AS src, nxt AS dst FROM sq
  WHERE nxt IS NOT NULL AND nxt <> part
),
recip AS (
  SELECT a.src, a.dst FROM e a
  WHERE EXISTS (SELECT 1 FROM e b
                WHERE b.src = a.dst AND b.dst = a.src)
),
per_node AS (
  SELECT o.src, o.out_deg, COALESCE(r.n_recip, 0)::BIGINT AS n_recip
  FROM (SELECT src, count(*)::BIGINT AS out_deg FROM e GROUP BY src) o
  LEFT JOIN (SELECT src, count(*)::BIGINT AS n_recip
             FROM recip GROUP BY src) r ON o.src = r.src
),
gtot AS (
  SELECT sum(out_deg)::BIGINT AS n_edges,
         sum(n_recip)::BIGINT AS n_recip_total
  FROM per_node
)
SELECT p.src AS node, p.out_deg, p.n_recip,
       CAST(p.n_recip AS DOUBLE) / CAST(p.out_deg AS DOUBLE)
         AS node_reciprocity,
       g.n_edges, g.n_recip_total,
       CAST(g.n_recip_total AS DOUBLE) / CAST(g.n_edges AS DOUBLE)
         AS global_reciprocity
FROM per_node p, gtot g
ORDER BY p.n_recip DESC, p.out_deg DESC, node ASC
LIMIT {RECIP_TOP}
"""


# --------------------------------------------------------------------------
# q185: incremental PageRank movers — the freshness question a
# ranking pipeline answers after every crawl increment: DON'T rerun
# PageRank from scratch; warm-restart one iteration from the previous
# ranks over the updated edge set and read which nodes MOVED (the
# standard incremental approximation — ranks are a contraction's
# fixed point, so one warm step bounds each node's residual, and the
# movers list is what downstream re-scoring actually consumes).
# Base graph = even-order edges, increment = the rest.
#
# Determinism: q27's EXACT int64 fixed-point contributions
# throughout ((17·u) div (20·outdeg) — the r5 lesson: no float state
# in iterations), so u_old, u_new, and every delta are bit-identical
# at any parallelism and across engines. Scale shape: q27's per-round
# plan (one equi-join + one per-node sum) on the base for N_ITERS
# rounds, ONE warm round on the full graph, a map-only delta + head.
# --------------------------------------------------------------------------

PRD_TOP = 100


def q185_pagerank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _tables.load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").cast("long").alias("part"),
            (F.col("l_suppkey").cast("long") + SUPP_OFFSET).alias("supp"),
        )
        .distinct()
    )

    def sym(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("part").alias("src"), F.col("supp").alias("dst")
        ).unionAll(
            df.select(F.col("supp").alias("src"), F.col("part").alias("dst"))
        )

    e_full = sym(li.select("part", "supp").distinct()).localCheckpoint(
        eager=False
    )
    e_base = sym(
        li.filter(F.col("ok") % 2 == 0).select("part", "supp").distinct()
    ).localCheckpoint(eager=False)
    base = power_iteration(e_base, endpoints(e_full), _TELEPORT, rounds=N_ITERS)
    warm = power_iteration(
        e_full, base.select("node", "u"), _TELEPORT,
        init={"u": F.col("u")}, rounds=1,
    )
    delta = F.col("u") - F.col("prev_u")
    return (
        warm.select(
            "node",
            F.col("prev_u").alias("u_old"),
            F.col("u").alias("u_new"),
            delta.cast("long").alias("delta_u"),
            (delta.cast("double") / F.lit(float(PR_SCALE))).alias(
                "delta_rank"
            ),
        )
        .orderBy(F.desc(F.abs(F.col("delta_u"))), F.asc("node"))
        .limit(PRD_TOP)
    )


QUERIES["q185_pagerank_delta"] = q185_pagerank_delta


def _prd_round_sql(prev: str, cur: str, e: str, out: str) -> str:
    return f"""
{cur} AS (
  SELECT n.node, ({PR_BASE_U} + coalesce(s.s, 0))::BIGINT AS u
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum({_PR_CONTRIB_SQL}) AS s
    FROM {e} e JOIN {prev} r ON e.src = r.node
               JOIN {out} o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.node = s.dst
)"""


_PRD_CTES = ",".join(
    _prd_round_sql(f"pr{i}", f"pr{i + 1}", "e_base", "out_b")
    for i in range(N_ITERS)
)

ORACLE["q185_pagerank_delta"] = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS part,
         l_suppkey::BIGINT + {SUPP_OFFSET} AS supp
  FROM lineitem
),
pf AS (SELECT DISTINCT part, supp FROM li),
pb AS (SELECT DISTINCT part, supp FROM li WHERE ok % 2 = 0),
e_full AS (
  SELECT part AS src, supp AS dst FROM pf
  UNION ALL SELECT supp AS src, part AS dst FROM pf
),
e_base AS (
  SELECT part AS src, supp AS dst FROM pb
  UNION ALL SELECT supp AS src, part AS dst FROM pb
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e_full UNION ALL SELECT dst FROM e_full
  )
),
out_b AS (SELECT src, count(*) AS outdeg FROM e_base GROUP BY src),
out_f AS (SELECT src, count(*) AS outdeg FROM e_full GROUP BY src),
pr0 AS (SELECT node, {PR_ONE_U}::BIGINT AS u FROM nodes),
{_PRD_CTES},
warm AS (
  SELECT n.node, ({PR_BASE_U} + coalesce(s.s, 0))::BIGINT AS u
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum({_PR_CONTRIB_SQL}) AS s
    FROM e_full e JOIN pr{N_ITERS} r ON e.src = r.node
                  JOIN out_f o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.node = s.dst
)
SELECT o.node, o.u AS u_old, w.u AS u_new,
       (w.u - o.u)::BIGINT AS delta_u,
       CAST(w.u - o.u AS DOUBLE) / CAST('1e12' AS DOUBLE) AS delta_rank
FROM pr{N_ITERS} o JOIN warm w ON o.node = w.node
ORDER BY abs(w.u - o.u) DESC, o.node ASC
LIMIT {PRD_TOP}
"""


# --------------------------------------------------------------------------
# q187: Hill tail-index of the degree distribution — the power-law
# exponent estimate (Hill 1975; the standard web-graph heavy-tail
# characterization alongside q95's Zipf slope for text): over the
# top HILL_K degrees d_1 ≥ … ≥ d_k, α̂ = k / Σ ln(d_i / d_k). A web
# graph's in-degree tail index near 2.1 is the classic Broder
# finding; drift in α̂ across crawls flags link farms inflating the
# tail. Published with the (k-1)-denominator variant too (both
# conventions appear in practice).
#
# Determinism: degrees are exact int64; the top-k is a rank window
# with total tie-break (degree DESC, node ASC); Σ ln(d_i/d_k) folds
# as DECIMAL(28,12) partials of identical IEEE ln trees (q95's
# recipe); final ratios single IEEE divisions, UNROUNDED.
# Scale shape: one degree agg, one TakeOrdered top-k (tiny), one
# k-row fold — the estimator never touches the full distribution.
# --------------------------------------------------------------------------

HILL_K = 100


def q187_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    und = copurchase_edges(spark, sf_dir)
    e = und.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        und.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    w = Window.orderBy(F.desc("degree"), F.asc("node"))
    top = deg.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= HILL_K
    )
    dk = F.broadcast(
        top.filter(F.col("r") == HILL_K).select(
            F.col("degree").alias("d_k")
        )
    )
    g = (
        top.crossJoin(dk)
        .withColumn(
            "lr",
            F.log(
                F.col("degree").cast("double") / F.col("d_k").cast("double")
            ).cast("decimal(28,12)"),
        )
        .groupBy()
        .agg(
            F.count("*").cast("long").alias("k"),
            F.max("d_k").cast("long").alias("d_min_tail"),
            F.sum("lr").cast("double").alias("log_sum"),
        )
    )
    return g.select(
        "k",
        "d_min_tail",
        "log_sum",
        (F.col("k").cast("double") / F.col("log_sum")).alias("hill_alpha"),
        (
            (F.col("k") - F.lit(1)).cast("double") / F.col("log_sum")
        ).alias("hill_alpha_unbiased"),
    )


QUERIES["q187_hill_tail"] = q187_hill_tail

ORACLE["q187_hill_tail"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
e AS (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL SELECT pb AS src, pa AS dst FROM und
),
deg AS (
  SELECT src AS node, count(*)::BIGINT AS degree FROM e GROUP BY src
),
top AS (
  SELECT node, degree,
         row_number() OVER (ORDER BY degree DESC, node ASC) AS r
  FROM deg QUALIFY r <= {HILL_K}
),
dk AS (SELECT degree AS d_k FROM top WHERE r = {HILL_K}),
g AS (
  SELECT count(*)::BIGINT AS k,
         max(d_k)::BIGINT AS d_min_tail,
         CAST(sum(CAST(ln(CAST(degree AS DOUBLE) / CAST(d_k AS DOUBLE))
                       AS DECIMAL(28,12))) AS DOUBLE) AS log_sum
  FROM top, dk
)
SELECT k, d_min_tail, log_sum,
       CAST(k AS DOUBLE) / log_sum AS hill_alpha,
       CAST(k - 1 AS DOUBLE) / log_sum AS hill_alpha_unbiased
FROM g
"""


# --------------------------------------------------------------------------
# q189: modularity of the q130 label-propagation communities — the
# quality score that makes community detection operable (Newman/
# Girvan): Q = Σ_c [e_c/m − (d_c/2m)²]. A pipeline never ships
# "communities" without Q — it is the regression metric when LPA's
# iteration count or the graph changes.
#
# Determinism: Q reduces to exact int64 scalars — Q = (4m·Σe_c −
# Σd_c²) / (4m²) — so the cross-community reduction is integer
# arithmetic (the q151 lesson: never sum raw doubles across an
# unordered reduction); per-community contributions are map-only
# IEEE trees over exact ints. Scale shape: q130's rounds + one edge
# relabel join + two community-sized aggs + a 1-row broadcast.
# --------------------------------------------------------------------------

MOD_TOP = 50


def q189_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    labels = label_propagation(und).localCheckpoint(eager=False)
    lab = labels.select("node", "community")
    e_in = (
        und.join(lab.withColumnRenamed("node", "pa"), "pa")
        .withColumnRenamed("community", "ca")
        .join(
            lab.withColumnRenamed("node", "pb").withColumnRenamed(
                "community", "cb"
            ),
            "pb",
        )
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    deg = (
        und.select(F.col("pa").alias("node"))
        .unionAll(und.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    d_c = (
        lab.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("degree").cast("long").alias("d_sum"),
        )
    )
    m_row = und.groupBy().agg(F.count("*").cast("long").alias("m"))
    comm = d_c.join(e_in, "community", "left").withColumn(
        "e_in", F.coalesce(F.col("e_in"), F.lit(0)).cast("long")
    )
    sums = F.broadcast(
        comm.groupBy()
        .agg(
            F.sum("e_in").cast("long").alias("se"),
            F.sum(F.col("d_sum") * F.col("d_sum"))
            .cast("long")
            .alias("sd2"),
        )
        .crossJoin(F.broadcast(m_row))
    )
    md = F.col("m").cast("double")
    q_global = (
        F.lit(4.0) * md * F.col("se").cast("double")
        - F.col("sd2").cast("double")
    ) / (F.lit(4.0) * md * md)
    contrib = F.col("e_in").cast("double") / md - (
        F.col("d_sum").cast("double") / (F.lit(2.0) * md)
    ) * (F.col("d_sum").cast("double") / (F.lit(2.0) * md))
    return (
        comm.crossJoin(sums)
        .select(
            "community",
            "n_nodes",
            "e_in",
            "d_sum",
            contrib.alias("contribution"),
            "m",
            q_global.alias("modularity"),
        )
        .orderBy(F.desc("n_nodes"), F.asc("community"))
        .limit(MOD_TOP)
    )


QUERIES["q189_modularity"] = q189_modularity

ORACLE["q189_modularity"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL
  SELECT pb AS src, pa AS dst FROM und
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
{_LPA_CTES},
lab AS (SELECT node, label AS community FROM l{LPA_ITERS}),
e_in AS (
  SELECT la.community, count(*)::BIGINT AS e_in
  FROM und JOIN lab la ON und.pa = la.node
           JOIN lab lb ON und.pb = lb.node
  WHERE la.community = lb.community
  GROUP BY la.community
),
deg AS (
  SELECT node, count(*)::BIGINT AS degree FROM (
    SELECT pa AS node FROM und UNION ALL SELECT pb AS node FROM und
  ) GROUP BY node
),
d_c AS (
  SELECT lab.community, count(*)::BIGINT AS n_nodes,
         sum(deg.degree)::BIGINT AS d_sum
  FROM lab JOIN deg USING (node) GROUP BY lab.community
),
mm AS (SELECT count(*)::BIGINT AS m FROM und),
comm AS (
  SELECT d.community, d.n_nodes, COALESCE(e.e_in, 0)::BIGINT AS e_in,
         d.d_sum
  FROM d_c d LEFT JOIN e_in e USING (community)
),
sums AS (
  SELECT sum(e_in)::BIGINT AS se,
         sum(d_sum * d_sum)::BIGINT AS sd2
  FROM comm
)
SELECT c.community, c.n_nodes, c.e_in, c.d_sum,
       CAST(c.e_in AS DOUBLE) / CAST(mm.m AS DOUBLE)
         - (CAST(c.d_sum AS DOUBLE) / (2.0::DOUBLE * CAST(mm.m AS DOUBLE)))
           * (CAST(c.d_sum AS DOUBLE) / (2.0::DOUBLE * CAST(mm.m AS DOUBLE)))
         AS contribution,
       mm.m,
       (4.0::DOUBLE * CAST(mm.m AS DOUBLE) * CAST(s.se AS DOUBLE)
        - CAST(s.sd2 AS DOUBLE))
       / (4.0::DOUBLE * CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE))
         AS modularity
FROM comm c, sums s, mm
ORDER BY c.n_nodes DESC, c.community ASC
LIMIT {MOD_TOP}
"""


# --------------------------------------------------------------------------
# q201: triangle-count null model — is the co-purchase graph's
# clustering REAL structure or just what its degree sequence forces?
# The configuration-model expectation (Newman): a random graph with
# the same degrees has expected transitivity C_rand ≈ <k²−k>² /
# (n·<k>³); comparing q58's measured transitivity against it is the
# difference between "communities exist" and "hubs make everything
# look clustered". The ratio C/C_rand is the headline.
#
# Determinism: the degree moments are exact int64 sums; transitivity
# = 3·triangles/wedges with both counts exact int64 (q58's
# degree-ordered triangle count, wedges = Σd(d−1)/2 exact); the
# null expectation and the ratio are single IEEE trees, NULL-guarded
# when wedges = 0. Scale shape: q58's O(m^1.5) plan + one degree-
# moment agg + a 1-row rollup.
# --------------------------------------------------------------------------


def q201_triangle_null_model(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tc = triangle_counts(copurchase_edges(spark, sf_dir))
    g = tc.groupBy().agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("n_triangles").cast("long").alias("tri3"),
        F.sum("degree").cast("long").alias("d1"),
        F.sum(F.col("degree") * F.col("degree"))
        .cast("long")
        .alias("d2"),
        F.sum(F.col("degree") * (F.col("degree") - 1))
        .cast("long")
        .alias("wedges2"),
    )
    n = F.col("n_nodes").cast("double")
    k1 = F.col("d1").cast("double") / n
    k2k = (F.col("d2") - F.col("d1")).cast("double") / n
    c_rand = k2k * k2k / (n * k1 * k1 * k1)
    # per-node triangle counts sum each triangle 3 times (tri3 = 3T);
    # wedges2 = 2W -> transitivity 3T/W = 2*tri3/wedges2
    trans = F.when(
        F.col("wedges2") > 0,
        (F.lit(2.0) * F.col("tri3").cast("double"))
        / F.col("wedges2").cast("double"),
    )
    return g.select(
        "n_nodes",
        F.expr("tri3 div 3").cast("long").alias("n_triangles"),
        F.expr("wedges2 div 2").cast("long").alias("n_wedges"),
        trans.alias("transitivity"),
        c_rand.alias("c_random"),
        F.when(c_rand > 0.0, trans / c_rand).alias("clustering_lift"),
    )


QUERIES["q201_triangle_null_model"] = q201_triangle_null_model

ORACLE["q201_triangle_null_model"] = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL SELECT pb AS src, pa AS dst FROM und
),
deg AS (
  SELECT src AS node, count(*)::BIGINT AS degree FROM e GROUP BY src
),
tri AS (
  SELECT count(*)::BIGINT AS t
  FROM und ab JOIN und bc ON ab.pb = bc.pa
              JOIN und ac ON ac.pa = ab.pa AND ac.pb = bc.pb
),
mom AS (
  SELECT count(*)::BIGINT AS n_nodes,
         sum(degree)::BIGINT AS d1,
         sum(degree * degree)::BIGINT AS d2,
         sum(degree * (degree - 1))::BIGINT AS wedges2
  FROM deg
)
SELECT m.n_nodes,
       tri.t AS n_triangles,
       (m.wedges2 // 2)::BIGINT AS n_wedges,
       CASE WHEN m.wedges2 > 0
            THEN (2.0::DOUBLE * CAST(3 * tri.t AS DOUBLE))
                 / CAST(m.wedges2 AS DOUBLE)
            ELSE NULL END AS transitivity,
       (CAST(m.d2 - m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
         * (CAST(m.d2 - m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
         / (CAST(m.n_nodes AS DOUBLE)
            * (CAST(m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
            * (CAST(m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
            * (CAST(m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE)))
         AS c_random,
       CASE WHEN m.wedges2 > 0
                 AND (CAST(m.d2 - m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
                     * (CAST(m.d2 - m.d1 AS DOUBLE)
                        / CAST(m.n_nodes AS DOUBLE))
                     / (CAST(m.n_nodes AS DOUBLE)
                        * (CAST(m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
                        * (CAST(m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
                        * (CAST(m.d1 AS DOUBLE)
                           / CAST(m.n_nodes AS DOUBLE))) > 0.0
            THEN ((2.0::DOUBLE * CAST(3 * tri.t AS DOUBLE))
                  / CAST(m.wedges2 AS DOUBLE))
                 / ((CAST(m.d2 - m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
                    * (CAST(m.d2 - m.d1 AS DOUBLE)
                       / CAST(m.n_nodes AS DOUBLE))
                    / (CAST(m.n_nodes AS DOUBLE)
                       * (CAST(m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
                       * (CAST(m.d1 AS DOUBLE) / CAST(m.n_nodes AS DOUBLE))
                       * (CAST(m.d1 AS DOUBLE)
                          / CAST(m.n_nodes AS DOUBLE))))
            ELSE NULL END AS clustering_lift
FROM mom m, tri
"""


# --------------------------------------------------------------------------
# q208: wedge-sampling triangle estimate (Seshadhri/Pinar/Kolda) —
# the sketch a 100 TB graph runs when even q58's O(m^1.5) is too
# much: sample wedges DETERMINISTICALLY (portable hash of the wedge
# key under a rate threshold), check which close via one semi-join
# against the edge set, and scale up: T̂ = (closed/sampled)·W/3.
# Published next to the exact count so the estimate's relative error
# IS the audit (the q31/q44 approx-vs-exact convention).
#
# Determinism: the sample is hash-selected (same wedges anywhere —
# no RNG), closure is an exact semi-join, the estimator one IEEE
# tree over exact ints. Scale shape: the estimator must sample
# uniformly over ALL wedges, so enumeration is wedge-mass bounded
# (Σd(d−1)/2) with the hash filter pushed into the join output —
# only the sampled fraction materializes/joins. At true scale the
# production variant samples CENTERS first (degree-weighted) to
# avoid full enumeration; the fixture audit also computes q58's
# exact count alongside, which a real deployment would skip — the
# estimate-only plan is the cheap path.
# --------------------------------------------------------------------------

WEDGE_MOD = 10  # keep wedges with hash % MOD == 0 (10% sample)


def q208_wedge_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    e = und.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        und.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
    total_wedges = F.broadcast(
        deg.groupBy().agg(
            F.sum(
                F.col("degree") * (F.col("degree") - 1)
            ).cast("long").alias("wedges2")
        )
    )
    nb = e.select(F.col("src").alias("c"), F.col("dst").alias("n"))
    wedges = (
        nb.alias("x")
        .join(nb.alias("y"), F.col("x.c") == F.col("y.c"))
        .filter(F.col("x.n") < F.col("y.n"))
        .select(
            F.col("x.c").alias("center"),
            F.col("x.n").alias("a"),
            F.col("y.n").alias("b"),
        )
        .filter(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#", F.col("center"), F.col("a"), F.col("b")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % WEDGE_MOD
            == 0
        )
    )
    und_norm = und.select(
        F.least("pa", "pb").alias("a"), F.greatest("pa", "pb").alias("b")
    ).distinct()
    closed = wedges.join(und_norm, ["a", "b"], "left_semi")
    n_s = F.broadcast(
        wedges.groupBy().agg(F.count("*").cast("long").alias("n_sampled"))
    )
    n_c = F.broadcast(
        closed.groupBy().agg(F.count("*").cast("long").alias("n_closed"))
    )
    exact = F.broadcast(
        triangle_counts(und)
        .groupBy()
        .agg(
            F.expr("sum(n_triangles) div 3").cast("long").alias("t_exact")
        )
    )
    est = (
        F.col("n_closed").cast("double")
        / F.col("n_sampled").cast("double")
        * (F.col("wedges2").cast("double") / F.lit(2.0))
        / F.lit(3.0)
    )
    return (
        n_s.crossJoin(n_c)
        .crossJoin(total_wedges)
        .crossJoin(exact)
        .select(
            "n_sampled",
            "n_closed",
            F.expr("wedges2 div 2").cast("long").alias("n_wedges"),
            est.alias("t_estimate"),
            "t_exact",
            F.when(
                F.col("t_exact") > 0,
                F.abs(est - F.col("t_exact").cast("double"))
                / F.col("t_exact").cast("double"),
            ).alias("rel_error"),
        )
    )


QUERIES["q208_wedge_sampling"] = q208_wedge_sampling

ORACLE["q208_wedge_sampling"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey::BIGINT AS p FROM lineitem
),
und AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
),
e AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL SELECT pb AS src, pa AS dst FROM und
),
deg AS (
  SELECT src AS node, count(*)::BIGINT AS degree FROM e GROUP BY src
),
tw AS (SELECT sum(degree * (degree - 1))::BIGINT AS wedges2 FROM deg),
wedges AS (
  SELECT x.src AS center, x.dst AS a, y.dst AS b
  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
  WHERE ('0x' || substr(md5(CAST(x.src AS VARCHAR) || '#'
                            || CAST(x.dst AS VARCHAR) || '#'
                            || CAST(y.dst AS VARCHAR)), 1, 15))::BIGINT
        % {WEDGE_MOD} = 0
),
closed AS (
  SELECT w.* FROM wedges w
  WHERE EXISTS (SELECT 1 FROM und u
                WHERE u.pa = w.a AND u.pb = w.b)
),
tri AS (
  SELECT count(*)::BIGINT AS t_exact
  FROM und ab JOIN und bc ON ab.pb = bc.pa
              JOIN und ac ON ac.pa = ab.pa AND ac.pb = bc.pb
),
ns AS (SELECT count(*)::BIGINT AS n_sampled FROM wedges),
nc AS (SELECT count(*)::BIGINT AS n_closed FROM closed)
SELECT ns.n_sampled, nc.n_closed,
       (tw.wedges2 // 2)::BIGINT AS n_wedges,
       CAST(nc.n_closed AS DOUBLE) / CAST(ns.n_sampled AS DOUBLE)
         * (CAST(tw.wedges2 AS DOUBLE) / 2.0::DOUBLE) / 3.0::DOUBLE
         AS t_estimate,
       tri.t_exact,
       CASE WHEN tri.t_exact > 0
            THEN abs(CAST(nc.n_closed AS DOUBLE)
                     / CAST(ns.n_sampled AS DOUBLE)
                     * (CAST(tw.wedges2 AS DOUBLE) / 2.0::DOUBLE)
                     / 3.0::DOUBLE
                     - CAST(tri.t_exact AS DOUBLE))
                 / CAST(tri.t_exact AS DOUBLE)
            ELSE NULL END AS rel_error
FROM ns, nc, tw, tri
"""
