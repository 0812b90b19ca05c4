"""PageRank over the extracted link graph — iterative DataFrame
join-aggregate with the reference's exact math (SURVEY.md §3.3):

* link extraction: ``<a\\s+(?:[^>]*?\\s+)?href="([^"]*)"`` case-insensitive,
  skipping ``#``-prefixed and empty hrefs (``jobs/PageRank.java:155-171``);
* URL normalization replica of ``jobs/PageRank.java:173-215`` +
  ``tools/URLParser.java:8-31``: protocol/host/port default-fill
  (80/443), relative-path resolution, RFC-2396 dot-segment removal,
  drop non-http(s) and ``.jpg|.jpeg|.gif|.png|.txt`` targets, and the
  normalizer's always-explicit port in the output;
* iteration: contribution = 0.85 * rank / outdeg per out-link
  (duplicates count, ``PageRank.java:75``), new = sum(incoming) + 0.15
  (fixed additive base, NOT 0.15/N — the reference's deliberate
  simplification, ``PageRank.java:107``), targets outside the corpus
  dropped (the join against the state table, ``PageRank.java:99-100``);
* convergence: L-inf max |new - old| <= threshold (``PageRank.java:120-142``).

Arithmetic is exact int64 fixed point, so ranks are bit-identical at any
parallelism and ``==`` ``oracle.oracle_pagerank``, which runs the same
integer rule. ``power_iteration`` is the only PageRank round in the Spark
code: the engine and the registry's variants (personalized, TrustRank,
host-weighted, convergence audit, warm restart) call it with their own
edges, teleport vector and start.

Scale notes: each edge gets its source's weighted out-degree once (a
window over the edges); a round is one shuffle join of ranks to those
edges plus one per-node integer sum. The convergence stop materializes the
weighted edges and each round (localCheckpoint, which also cuts lineage)
and collects one integer L-inf per round.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import catalog, checkpoint

_RE_HREF = re.compile(r'<a\s+(?:[^>]*?\s+)?href="([^"]*)"', re.IGNORECASE)
_RE_IMG_EXT = re.compile(r".*\.(jpg|jpeg|gif|png|txt)$")



def extract_hrefs(page: str) -> list[str]:
    """PageRank.extractUrls: all href captures, minus #fragments/empties."""
    out = []
    for m in _RE_HREF.finditer(page):
        u = m.group(1)
        if u.startswith("#") or not u.strip():
            continue
        out.append(u)
    return out


def _parse_url(url: str) -> tuple[str | None, str | None, str | None, str]:
    """tools/URLParser.parseURL replica: (protocol, host, port, path)."""
    slashslash = url.find("//")
    protocol = host = port = None
    if slashslash > 0:
        protocol = url[: slashslash - 1]
        nextslash = url.find("/", slashslash + 2)
        if nextslash >= 0:
            host = url[slashslash + 2 : nextslash]
            path = url[nextslash:]
        else:
            host = url[slashslash + 2 :]
            path = "/"
        colon = host.find(":")
        if colon > 0:
            port = host[colon + 1 :]
            host = host[:colon]
    else:
        path = url
    return protocol, host, port, path


def _normalize_path_rfc2396(path: str) -> str | None:
    """java.net.URI(path).normalize().getPath() for a plain path: collapse
    '.' and 'seg/..' but KEEP excess leading '..' segments."""
    if not path:
        return path
    segs = path.split("/")
    out: list[str] = []
    for s in segs:
        if s == ".":
            continue
        if s == ".." and out and out[-1] not in ("..", ""):
            out.pop()
            continue
        out.append(s)
    # preserve trailing-slash semantics of '.'/'..' enders
    if path.endswith(("/.", "/..")) and out and out[-1] != "":
        out.append("")
    norm = "/".join(out)
    if path.startswith("/") and not norm.startswith("/"):
        norm = "/" + norm
    return norm


def normalize_url(raw_url: str, base_url: str) -> str | None:
    """Replica of jobs/PageRank.normalizeUrl (returns None for dropped)."""
    try:
        base_proto, base_host, base_port, _ = _parse_url(base_url)
        raw_proto, raw_host, raw_port, path = _parse_url(raw_url)

        protocol, host, port = base_proto, base_host, base_port
        if raw_proto is None:
            if ":" in path.split("/")[0] and not path.startswith("/"):
                # scheme-like relative (mailto:, javascript:) — Java's
                # `new URL(base, raw)` throws unknown-protocol -> null
                scheme = path.split(":", 1)[0].lower()
                if scheme not in ("http", "https"):
                    return None
            if not path.startswith("/"):
                joined = urljoin(base_url, raw_url)
                p2 = _parse_url(joined)[3]
                path = p2
        else:
            protocol, host, port = raw_proto, raw_host, raw_port

        path = _normalize_path_rfc2396(path)
        if path is None:
            return None

        if protocol is None or protocol.lower() not in ("http", "https"):
            return None
        if _RE_IMG_EXT.match(path):
            return None
        if port is None or port == "":
            port = "80" if protocol.lower() == "http" else "443"
        int(port)  # NumberFormatException parity
        return f"{protocol}://{host}:{port}{path}"
    except (ValueError, AttributeError):
        return None


EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
    ]
)


def extract_edges(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """pages(url, html) -> (src doc_id, dst doc_id) with dst resolved by the
    reference normalizer. Duplicate links are KEPT (reference semantics:
    they contribute multiple shares and count in outdeg)."""
    from .xxhash64 import spark_xxhash64_str

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            srcs: list[int] = []
            dsts: list[int] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                page = bytes(html).decode("utf-8", errors="replace")
                src = spark_xxhash64_str(url)
                for raw in extract_hrefs(page):
                    norm = normalize_url(raw, url)
                    if norm is not None:
                        srcs.append(src)
                        dsts.append(spark_xxhash64_str(norm))
            yield pd.DataFrame(
                {
                    "src": pd.Series(srcs, dtype="int64"),
                    "dst": pd.Series(dsts, dtype="int64"),
                }
            )

    return pages.select("url", "html").mapInPandas(kernel, EDGES_SCHEMA)


# Exact int64 fixed point: u = rank * PR_SCALE. 0.85 is exactly 17/20, so a
# round is pure integer arithmetic: bit-identical at any parallelism and in
# any engine. u < 2^53 keeps the final u / PR_SCALE one correctly rounded
# IEEE division.
PR_SCALE = 10**12
PR_ONE_U = PR_SCALE  # initial rank 1.0
PR_BASE_U = 3 * PR_SCALE // 20  # the +0.15 teleport
# Version of the pagerank stage's output; the stage fingerprint and the
# tests' cached-fixture marker key on it.
STAGE_VERSION = 2


def share(u: str) -> Column:
    """floor(17*u / d), what a source passes per unit of out-weight
    (d = 20 * weighted out-degree), spelled 17*(u div d) + (17*(u mod d))
    div d. The two agree for u, d >= 0 (u = q*d + r), but this one never
    forms 17*u, which overflows int64 once a rank passes ~5.4*10^5; it
    only needs 17*d < 2^63 (weighted out-degree below ~2.7*10^16)."""
    return F.expr(f"17 * ({u} div d) + (17 * ({u} % d)) div d")


def to_rank(u: str) -> Column:
    """The fixed-point column ``u`` as a double rank."""
    return F.col(u).cast("double") / F.lit(float(PR_SCALE))


def _weighted_edges(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(src, dst, w, d): each edge with d = 20 * its source's weighted
    out-degree, plus one w=0 self row per node that carries the node's
    rank through a round. ``w`` defaults to 1, so each duplicate link
    counts."""
    w = F.col("w") if "w" in edges.columns else F.lit(1)
    # a window, not an aggregate joined back: the edges (in the engine,
    # HTML link extraction) are read once
    e = edges.select("src", "dst", w.cast("long").alias("w")).withColumn(
        "d", 20 * F.sum("w").over(Window.partitionBy("src"))
    )
    carry = nodes.select(
        F.col("node").alias("src"),
        F.col("node").alias("dst"),
        F.lit(0).cast("long").alias("w"),
        F.lit(20).cast("long").alias("d"),
    )
    return e.unionAll(carry)


def _round(
    pw: DataFrame, ranks: DataFrame, teleport: dict[str, int | Column]
) -> DataFrame:
    """One round: ONE join of the ranks to the weighted edges and ONE
    per-node integer sum. The self rows carry each node's old rank into
    ``prev_<chain>``, so a convergence delta needs no second join."""
    carried = F.col("w") == 0
    return (
        pw.join(ranks.select(F.col("node").alias("src"), *teleport), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(
            *[F.sum(F.col("w") * share(c)).alias(f"in_{c}") for c in teleport],
            *[F.max(F.when(carried, F.col(c))).alias(f"prev_{c}") for c in teleport],
        )
        .select(
            "node",
            *[
                (F.lit(t) + F.col(f"in_{c}")).cast("long").alias(c)
                for c, t in teleport.items()
            ],
            *[f"prev_{c}" for c in teleport],
        )
    )


def power_rounds(
    edges: DataFrame,
    nodes: DataFrame,
    teleport: dict[str, int | Column],
    *,
    init: dict[str, int | Column] | None = None,
    threshold: float | None = None,
) -> Iterator[DataFrame]:
    """The PageRank power iteration, one (node, <chain>..., prev_<chain>...)
    frame per round.

    ``nodes`` is the distinct (node, ...) set and ``edges`` its
    (src, dst[, w > 0]) links; every dst must be a node. Each chain is a rank
    vector in int64 fixed point. It teleports ``teleport[chain]``, a
    constant or a Column over ``node`` (personalized and trusted-seed
    variants), and starts at ``init[chain]``, a constant or a Column over
    ``nodes`` (default PR_ONE_U; a warm start passes the old ranks). Per
    round each source floors ``share`` once and each edge adds
    ``w * share``, so chains that share the edges share the join and the
    sum.

    Without ``threshold`` the rounds are one lazy plan and no job runs
    (Spark reuses the weighted edges' exchanges across rounds). With it
    the weighted edges and every round are materialized, and the sequence
    ends after the first round whose integer L-inf delta over all chains
    is <= threshold * PR_SCALE.
    """
    pw = _weighted_edges(edges, nodes)
    if threshold is not None:
        pw = pw.localCheckpoint(eager=False)
    init = init or {}
    ranks = nodes.select(
        "node",
        *[F.lit(init.get(c, PR_ONE_U)).cast("long").alias(c) for c in teleport],
    )
    while True:
        ranks = _round(pw, ranks, teleport)
        if threshold is None:
            yield ranks
            continue
        ranks = ranks.localCheckpoint(eager=False)
        linf = ranks.agg(
            F.greatest(
                F.lit(0),
                *[F.max(F.abs(F.col(c) - F.col(f"prev_{c}"))) for c in teleport],
            )
        ).first()[0]
        yield ranks
        if linf <= threshold * PR_SCALE:
            return


def power_iteration(
    edges: DataFrame,
    nodes: DataFrame,
    teleport: dict[str, int | Column],
    *,
    init: dict[str, int | Column] | None = None,
    rounds: int,
    threshold: float | None = None,
) -> DataFrame:
    """The last frame of ``power_rounds``: after exactly ``rounds``
    rounds, or with ``threshold`` at convergence (``rounds`` caps it)."""
    it = power_rounds(edges, nodes, teleport, init=init, threshold=threshold)
    for _, ranks in zip(range(rounds), it):
        pass
    return ranks


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    docs: DataFrame,
    threshold: float = 1e-4,
    max_iter: int = 200,
) -> DataFrame:
    """(doc_id, rank) for every doc in ``docs`` (column doc_id). Links to
    targets outside the corpus are dropped before out-degrees are counted
    (the reference's join against the state table, PageRank.java:99-100)."""
    nodes = docs.select(F.col("doc_id").alias("node")).distinct()
    ranks = power_iteration(
        edges.join(nodes.withColumnRenamed("node", "dst"), "dst", "left_semi"),
        nodes,
        {"u": PR_BASE_U},
        rounds=max_iter,
        threshold=threshold,
    )
    return ranks.select(F.col("node").alias("doc_id"), to_rank("u").alias("rank"))


def build_pagerank_stage(
    spark: SparkSession,
    pages_path: str,
    root: str,
    build_id: str,
    threshold: float = 1e-4,
) -> None:
    from .indexer import ingest

    fp = checkpoint.fingerprint(stage="pagerank", pages=pages_path, threshold=threshold, v=STAGE_VERSION)

    def run(_pid: int) -> tuple[str, int, int]:
        pages = ingest(spark, pages_path)
        docs = pages.select(F.xxhash64("url").alias("doc_id"))
        edges = extract_edges(spark, pages)
        ranks = pagerank(spark, edges, docs, threshold=threshold)
        out = catalog.path(root, catalog.PAGERANKS)
        ranks.write.mode("overwrite").parquet(out)
        return out, spark.read.parquet(out).count(), 0

    checkpoint.run_partitioned_stage(root, build_id, "pagerank", [0], fp, run)
