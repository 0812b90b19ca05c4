"""Engine-native operators exposed through the driver contract: the
Porter stemmer UDF and the compressed posting-list codec, run over the
driver's ``documents`` table.

q28 round-trips every posting list through the real varbyte+delta codec
(``compress.py`` — the physical format of the inverted index) inside
``applyInPandas`` and emits per-term stats decoded *from the blob*; the
DuckDB oracle recomputes the same stats relationally, so a single
mismatched byte in encode/decode fails the gate.

q29 stems every distinct token with the vectorized Porter UDF
(byte-validated against the reference's ``external/PorterStemmer.java``
via the committed Java goldens). Its DuckDB oracle is a committed
(term, stem) VALUES fixture over the corpus' fixed 31-word vocabulary
(DuckDB's own stemmer lives in the fts extension, which cannot be
installed offline); the fixture stems were produced by the
golden-validated implementation, and the LEFT JOIN surfaces any
out-of-fixture term as a NULL stem — a loud hash failure. If the
synthetic vocabulary ever changes, the fixture below must be
regenerated with ``porter.porter_stem``.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import _tables

from ..compress import decode_postings, encode_postings
from ..porter import porter_stem

def _scratch_tag(sf_dir: str) -> str:
    """One scratch subtree per SF dir for the side-effect queries.
    Lowercased basename plus a short hash of the FULL path: basenames
    that differ only in case/punctuation ('SF0.1' vs 'sf0_1') or that
    repeat under different parents must not collide on scratch subtrees
    or the b_orders_<tag>/b_customer_<tag> saveAsTable names."""
    import hashlib

    full = os.path.abspath(os.path.normpath(sf_dir))
    base = re.sub(r"[^a-z0-9]+", "_", os.path.basename(full).lower())
    return f"{base}_{hashlib.md5(full.encode()).hexdigest()[:8]}"


def _scratch_root(env_key: str, leaf: str) -> str:
    """Read the scratch root at CALL time, not import time — bench.py
    redirects these onto tmpfs (the virtio /tmp disk throttles 4-7x and
    would pollute the timed query phase) after this module may already
    be imported."""
    return os.environ.get(env_key, os.path.join("/tmp", leaf))


SEG_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("n_postings", T.IntegerType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("sum_tf", T.LongType()),
    ]
)


def q28_postings_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tables.load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        tfs = pdf["tf"].to_numpy(dtype=np.int64)
        doc_blob, tf_blob, _, _, _ = encode_postings(
            doc_ids, tfs, np.zeros(len(tfs))
        )
        # decode back from the physical blobs — the values below come
        # from the codec, not the input frame
        d, t = decode_postings(doc_blob, tf_blob)
        return pd.DataFrame(
            {
                "term": [pdf["term"].iloc[0]],
                "n_postings": [len(d)],
                "first_doc": [int(d[0])],
                "last_doc": [int(d[-1])],
                "sum_tf": [int(t.sum())],
            }
        )

    return tf.groupBy("term").applyInPandas(kernel, SEG_SCHEMA).orderBy("term")


def q29_porter_stems(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tables.load(spark, sf_dir, "documents")
    terms = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )

    @F.pandas_udf(T.StringType())
    def stem_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: porter_stem(x) if x else x)

    return terms.select("term", stem_udf("term").alias("stem")).orderBy("term")


# --------------------------------------------------------------------------
# q49: skew-salted shuffle join — the standard 100 TB hot-key rewrite
# (AQE's skew-join split only kicks in at runtime and only for
# sort-merge; this is the explicit form that also covers shuffled-hash).
# The small side is replicated across N_SALTS salt values; each big-side
# row scatters to one salt by a row hash, so a hot join key occupies
# N_SALTS reduce partitions instead of one. The salt is engine-internal
# (never in the output) and the result is verified against the plain
# unsalted join as the DuckDB oracle — the rewrite must be semantically
# invisible. shuffle_hash hint keeps the demo on the shuffle path
# (a broadcast of the small side would make salting moot at fixture
# scale; at 100 TB the dimension may not fit the broadcast budget).
# --------------------------------------------------------------------------

N_SALTS = 8


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = N_SALTS
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``key`` with the small side
    replicated across ``n_salts`` and the big side scattered by a
    whole-row hash — identical result to ``big.join(small, key)``."""
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    small_r = small.withColumn("_salt", F.explode(salts))
    big_s = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
        .cast("int"),
    )
    return big_s.join(small_r.hint("shuffle_hash"), [key, "_salt"]).drop("_salt")


def q49_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tables.load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pt = _tables.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    j = salted_join(li, pt, "l_partkey")
    return (
        j.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"),
                9,
            ).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                9,
            ).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# q50: blocked Bloom filter as a join runtime-filter — the semi-join
# prune a 100 TB engine pushes below the shuffle (Spark's own runtime
# row-group skipping / DPP use exactly this shape): the build side's
# keys fold into a 256-block × 63-bit mask table via bit_or (a
# commutative/associative merge, so map-side partial masks OR to the
# global filter at any parallelism), and the probe side checks its K
# bits against the broadcast 256-row mask table — a map-only pass that
# never shuffles the probe relation. The filter itself is portable
# (md5-derived block/bit, 1<<bit on int64), so the DuckDB oracle
# reproduces the masks AND the false positives bit-for-bit; the output
# exposes bloom_pass next to the exact membership so the (deliberate,
# deterministic) false-positive set is visible and hash-gated.
# --------------------------------------------------------------------------

BLOOM_BLOCKS = 256
BLOOM_BITS = 63  # usable bits per block: DuckDB raises on 1::BIGINT << 63
BLOOM_K = 2  # independent probes per key


def _bloom_probe(key: F.Column, j: int) -> tuple[F.Column, F.Column]:
    """(block, bit) of probe ``j`` for a key — fields carved from the
    portable 60-bit md5 hash of the salted key."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"b{j}:"), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    # bit field via integer shift — a double division would round the
    # 60-bit hash (doubles carry 53 mantissa bits)
    return h % F.lit(BLOOM_BLOCKS), F.shiftright(h, 8) % F.lit(BLOOM_BITS)


def bloom_masks(keys: DataFrame, col: str) -> DataFrame:
    """Blocked-bloom mask table (block, mask) over a key column."""
    probes = []
    for j in range(BLOOM_K):
        block, bit = _bloom_probe(F.col(col), j)
        probes.append(F.struct(block.alias("block"), bit.alias("bit")))
    return (
        keys.select(F.explode(F.array(*probes)).alias("p"))
        .select("p.block", "p.bit")
        .withColumn(
            "m", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")
        )
        .groupBy("block")
        .agg(F.bit_or("m").alias("mask"))
    )


def q50_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _tables.load(spark, sf_dir, "customer").select(
        "c_custkey"
    )
    orders = _tables.load(spark, sf_dir, "orders").select(
        "o_custkey"
    )
    masks = bloom_masks(orders.select(F.col("o_custkey").alias("k")), "k")
    probes = []
    for j in range(BLOOM_K):
        block, bit = _bloom_probe(F.col("c_custkey"), j)
        probes.append(F.struct(block.alias("block"), bit.alias("bit")))
    probed = cust.select(
        "c_custkey", F.explode(F.array(*probes)).alias("p")
    ).select("c_custkey", "p.block", "p.bit")
    hits = (
        probed.join(F.broadcast(masks), "block", "left")
        .select(
            "c_custkey",
            F.expr(
                "CAST((coalesce(mask, CAST(0 AS BIGINT)) & "
                "shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))) != 0 AS INT)"
            ).alias("hit"),
        )
        .groupBy("c_custkey")
        .agg((F.sum("hit") == F.lit(BLOOM_K)).alias("bloom_pass"))
    )
    member = cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_semi",
    ).withColumn("is_member", F.lit(True))
    return (
        hits.join(member, "c_custkey", "left")
        .select(
            "c_custkey",
            "bloom_pass",
            F.coalesce(F.col("is_member"), F.lit(False)).alias("is_member"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# q71: bucketed co-located join — both sides written bucketBy(sortBy)
# on the join key as external tables, then sort-merge-joined with ZERO
# exchange on the key (test_plans pins `hashpartitioning(o_custkey/
# c_custkey` out of the plan). This is the 100 TB pattern for a fact
# table joined repeatedly on the same key: pay the layout shuffle once
# at write time, never again at read time. The MERGE hint keeps the
# small fixture side from broadcasting so the bucketed plan is actually
# exercised.
# --------------------------------------------------------------------------

Q71_BUCKETS = 8


def q71_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = _scratch_tag(sf_dir)
    scratch = _scratch_root("SPARK_GRAFT_BUCKET_DIR", "se_bucketed")
    for name, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        tbl = f"b_{name}_{tag}"
        df = _tables.load(spark, sf_dir, name)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.format("parquet")
            .bucketBy(Q71_BUCKETS, key)
            .sortBy(key)
            .option("path", os.path.join(scratch, tag, name))
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    o = spark.table(f"b_orders_{tag}")
    c = spark.table(f"b_customer_{tag}")
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# q72: hive-partitioned layout + static partition pruning — events
# written partitionBy(event_type), then a filtered read that must scan
# ONLY the matching directory (test_plans pins `PartitionFilters` on the
# scan and zero PushedFilters leakage of the partition predicate into
# row groups). At 100 TB this is the difference between listing one
# directory and scanning the table; the same mechanism drives the
# index's bucket=/group= layout.
# --------------------------------------------------------------------------

def _q72_partitioned_path(spark: SparkSession, sf_dir: str) -> str:
    path = os.path.join(
        _scratch_root("SPARK_GRAFT_PART_DIR", "se_partitioned"),
        _scratch_tag(sf_dir),
        "events",
    )
    ev = _tables.load(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    return path


def q72_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    pe = spark.read.parquet(_q72_partitioned_path(spark, sf_dir))
    return (
        pe.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q73: interchange-format roundtrip (formats.py under the hash gate) —
# events exported to JSONL, CSV, and ORC and read back with explicit
# schemas,
# then aggregated identically per format against the ORIGINAL parquet as
# the oracle. Any fidelity loss in either connector (timestamp micros,
# double shortest-repr, quoted text) shifts a per-format aggregate and
# hash-fails. Fidelity is per-row and per-column, so the gate covers the
# exact options (timestampNTZFormat, quote/escape, FAILFAST) a 100 TB
# ingest job would rely on.
# --------------------------------------------------------------------------

def q73_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats import (read_csv, read_jsonl, read_orc, write_csv,
                           write_jsonl, write_orc)

    scratch = _scratch_root("SPARK_GRAFT_FMT_DIR", "se_formats")
    tag = _scratch_tag(sf_dir)
    ev = _tables.load(spark, sf_dir, "events")
    jp = os.path.join(scratch, tag, "events_jsonl")
    cp = os.path.join(scratch, tag, "events_csv")
    op = os.path.join(scratch, tag, "events_orc")
    write_jsonl(ev, jp)
    write_csv(ev, cp)
    write_orc(ev, op)

    def census(df: DataFrame, fmt: str) -> DataFrame:
        return (
            df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("user_id").cast("long").alias("n_users"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
                F.min("ts").alias("min_ts"),
                F.max("ts").alias("max_ts"),
                F.sum(F.length("props")).cast("long").alias("props_chars"),
            )
            .withColumn("fmt", F.lit(fmt))
        )

    return (
        census(read_jsonl(spark, jp, ev.schema), "jsonl")
        .unionAll(census(read_csv(spark, cp, ev.schema), "csv"))
        .unionAll(census(read_orc(spark, op, ev.schema), "orc"))
        .orderBy("fmt", "event_type")
    )


QUERIES = {
    "q28_postings_roundtrip": q28_postings_roundtrip,
    "q29_porter_stems": q29_porter_stems,
    "q49_skew_salted_join": q49_skew_salted_join,
    "q50_bloom_join_prune": q50_bloom_join_prune,
    "q71_bucketed_join": q71_bucketed_join,
    "q72_partition_pruning": q72_partition_pruning,
    "q73_formats_roundtrip": q73_formats_roundtrip,
}

ORACLE = {
    "q28_postings_roundtrip": """
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> ''
  GROUP BY doc_id, term
)
SELECT term,
       count(*)::INT AS n_postings,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc,
       sum(tf)::BIGINT AS sum_tf
FROM tf GROUP BY term ORDER BY term
""",
    # q29: DuckDB has no network access for its fts/stem extension, so
    # the oracle is a committed (term, stem) fixture over the synthetic
    # corpus' fixed 31-word vocabulary. The stems are classic Porter-1980
    # outputs (key->kei, query->queri, merge->merg, table->tabl,
    # value->valu, customer->custom ...), produced by the implementation
    # that tests/test_porter.py byte-validates against the reference
    # Java goldens (golden/stems.tsv, 7014 pairs). A LEFT JOIN keeps any
    # out-of-fixture term visible as a NULL stem => loud hash failure.
    "q29_porter_stems": """
WITH terms AS (
  SELECT DISTINCT term
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> ''
),
fixture(term, stem) AS (VALUES
  ('a','a'), ('agg','agg'), ('batch','batch'), ('big','big'),
  ('column','column'), ('customer','custom'), ('data','data'),
  ('dup','dup'), ('fast','fast'), ('filter','filter'), ('group','group'),
  ('hash','hash'), ('join','join'), ('key','kei'), ('line','line'),
  ('merge','merg'), ('order','order'), ('part','part'),
  ('query','queri'), ('row','row'), ('scan','scan'), ('slow','slow'),
  ('small','small'), ('sort','sort'), ('spark','spark'),
  ('stream','stream'), ('table','tabl'), ('the','the'),
  ('value','valu'), ('vector','vector'), ('window','window')
)
SELECT t.term, f.stem
FROM terms t LEFT JOIN fixture f USING (term)
ORDER BY t.term
""",
    # q71: the oracle is the plain join+agg — the bucketed layout must be
    # semantically invisible; only the physical plan differs.
    "q71_bucketed_join": """
SELECT c_nationkey, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
    # q72: the oracle reads the original unpartitioned table — the
    # partitioned layout must be semantically invisible.
    "q72_partition_pruning": """
SELECT user_id, count(*) AS n_purchases,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY user_id
""",
    # q73: the oracle aggregates the ORIGINAL table once and emits one
    # row-set per format — both roundtrips must reproduce it exactly.
    "q73_formats_roundtrip": """
WITH a AS (
  SELECT event_type, count(*) AS n,
         count(DISTINCT user_id)::BIGINT AS n_users,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         min(ts) AS min_ts, max(ts) AS max_ts,
         sum(length(props))::BIGINT AS props_chars
  FROM events GROUP BY 1
)
SELECT event_type, n, n_users, sum_value, min_ts, max_ts, props_chars,
       'jsonl' AS fmt FROM a
UNION ALL
SELECT event_type, n, n_users, sum_value, min_ts, max_ts, props_chars,
       'csv' AS fmt FROM a
UNION ALL
SELECT event_type, n, n_users, sum_value, min_ts, max_ts, props_chars,
       'orc' AS fmt FROM a
ORDER BY fmt, event_type
""",
    # q49: the oracle is the PLAIN join — salting must be semantically
    # invisible, so any salt-induced row loss/duplication hash-fails.
    "q49_skew_salted_join": """
SELECT p.p_brand,
       count(*)::BIGINT AS n_rows,
       round(CAST(sum(l.l_quantity::DECIMAL(18,2)) AS DOUBLE), 9) AS sum_qty,
       round(CAST(sum(l.l_extendedprice::DECIMAL(18,2)) AS DOUBLE), 9)
         AS sum_price
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand ORDER BY p.p_brand
""",
    # q50: the oracle reproduces the MASKS, not just the verdicts — the
    # same md5-carved (block, bit) cells and int64 bit_or fold, so the
    # deterministic false-positive set must match bit-for-bit.
    "q50_bloom_join_prune": f"""
WITH ok AS (SELECT DISTINCT o_custkey AS k FROM orders),
js AS (SELECT unnest([{", ".join(str(j) for j in range(BLOOM_K))}]) AS j),
bp AS (
  SELECT ('0x' || substr(md5('b' || j::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT AS h
  FROM ok CROSS JOIN js
),
masks AS (
  SELECT h % {BLOOM_BLOCKS} AS block,
         bit_or(1::BIGINT << ((h >> 8) % 63)::INT) AS mask
  FROM bp GROUP BY h % {BLOOM_BLOCKS}
),
cp AS (
  SELECT c_custkey,
         ('0x' || substr(md5('b' || j::VARCHAR || ':' || c_custkey::VARCHAR), 1, 15))::BIGINT AS h
  FROM customer CROSS JOIN js
),
hits AS (
  SELECT c_custkey,
         sum(CASE WHEN (coalesce(m.mask, 0) & (1::BIGINT << ((cp.h >> 8) % 63)::INT)) <> 0
                  THEN 1 ELSE 0 END) AS nhit
  FROM cp LEFT JOIN masks m ON m.block = cp.h % {BLOOM_BLOCKS}
  GROUP BY c_custkey
)
SELECT c.c_custkey,
       h.nhit = {BLOOM_K} AS bloom_pass,
       EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         AS is_member
FROM customer c JOIN hits h ON h.c_custkey = c.c_custkey
ORDER BY c.c_custkey
""",
}


# --------------------------------------------------------------------------
# q165: zone-map (min/max) skipping audit — the data-layout question
# every 100 TB table owner asks before paying for a re-sort: how many
# row-zones does the hot predicate actually skip under the CURRENT
# layout, and what would a shipdate-clustered rewrite buy? Parquet
# row-group pruning, Delta/Iceberg file skipping, and ClickHouse
# marks are all this arithmetic: a zone is read iff
# [zone_min, zone_max] overlaps the predicate range.
#
# Two layouts are audited side by side: `natural` (arrival order =
# (orderkey, linenumber)) and `clustered` (sorted by the predicate
# column). Zones are ZM_ROWS consecutive rows: zone = (rank-1) div
# ZM_ROWS over the layout's TOTAL order (ties broken to a total order
# so both engines bucket identically). `ideal_zones` =
# ceil(matched/ZM_ROWS) is the floor any layout can reach; the
# clustered row should sit at it, and natural/ideal is the clustering
# factor that justifies (or kills) the rewrite.
#
# Scale shape: per layout ONE global rank (range-partitioned sort at
# scale — the audit is run on a SAMPLE of zones in production, the
# arithmetic is identical) + one (zone) min/max agg + a constant-size
# rollup. All exact int64; the two ratios are single IEEE divisions,
# UNROUNDED.
# --------------------------------------------------------------------------

ZM_ROWS = 1024
ZM_LO = "1995-06-01"
ZM_HI = "1995-08-31"


def q165_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _tables.load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").cast("long").alias("ln"),
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    lo, hi = F.lit(ZM_LO).cast("date"), F.lit(ZM_HI).cast("date")

    def audit(df: DataFrame, order_cols, layout: str) -> DataFrame:
        w = Window.orderBy(*order_cols)
        z = df.withColumn(
            "zone",
            ((F.row_number().over(w) - 1) / ZM_ROWS)
            .cast("long"),
        )
        zones = z.groupBy("zone").agg(
            F.min("sd").alias("zmin"),
            F.max("sd").alias("zmax"),
            F.count("*").cast("long").alias("zrows"),
            F.sum(
                F.when((F.col("sd") >= lo) & (F.col("sd") <= hi), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("zmatch"),
        )
        hit = (F.col("zmin") <= hi) & (F.col("zmax") >= lo)
        return zones.groupBy().agg(
            F.count("*").cast("long").alias("n_zones"),
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("long")
            .alias("zones_hit"),
            F.sum("zrows").cast("long").alias("n_rows"),
            F.sum("zmatch").cast("long").alias("rows_matched"),
        ).select(F.lit(layout).alias("layout"), "*")

    nat = audit(li, [F.asc("ok"), F.asc("ln")], "natural")
    clu = audit(
        li, [F.asc("sd"), F.asc("ok"), F.asc("ln")], "clustered"
    )
    u = nat.unionByName(clu)
    ideal = (
        (F.col("rows_matched") + F.lit(ZM_ROWS - 1)) / F.lit(ZM_ROWS)
    ).cast("long")
    return u.select(
        "layout",
        "n_rows",
        "n_zones",
        "zones_hit",
        "rows_matched",
        ideal.alias("ideal_zones"),
        (
            F.lit(1.0)
            - F.col("zones_hit").cast("double")
            / F.col("n_zones").cast("double")
        ).alias("skip_rate"),
        # NULL-guarded identically on both engines: Spark and DuckDB
        # disagree on double x/0 (the q86 lesson)
        F.when(
            ideal > 0,
            F.col("zones_hit").cast("double") / ideal.cast("double"),
        ).alias("clustering_factor"),
    ).orderBy("layout")


QUERIES["q165_zonemap_prune"] = q165_zonemap_prune

_ZM_AUDIT = """
SELECT '{layout}' AS layout,
       count(*)::BIGINT AS n_zones,
       sum(CASE WHEN zmin <= DATE '{hi}' AND zmax >= DATE '{lo}'
                THEN 1 ELSE 0 END)::BIGINT AS zones_hit,
       sum(zrows)::BIGINT AS n_rows,
       sum(zmatch)::BIGINT AS rows_matched
FROM (
  SELECT zone,
         min(sd) AS zmin, max(sd) AS zmax,
         count(*)::BIGINT AS zrows,
         sum(CASE WHEN sd >= DATE '{lo}' AND sd <= DATE '{hi}'
                  THEN 1 ELSE 0 END)::BIGINT AS zmatch
  FROM (
    SELECT sd,
           ((row_number() OVER (ORDER BY {order}) - 1) // {zr})::BIGINT
             AS zone
    FROM li
  ) GROUP BY zone
)"""

ORACLE["q165_zonemap_prune"] = f"""
WITH li AS (
  SELECT l_orderkey AS ok, l_linenumber::BIGINT AS ln,
         l_shipdate::DATE AS sd
  FROM lineitem
),
u AS (
{_ZM_AUDIT.format(layout="natural", order="ok ASC, ln ASC",
                  zr=ZM_ROWS, lo=ZM_LO, hi=ZM_HI)}
UNION ALL
{_ZM_AUDIT.format(layout="clustered", order="sd ASC, ok ASC, ln ASC",
                  zr=ZM_ROWS, lo=ZM_LO, hi=ZM_HI)}
)
SELECT layout, n_rows, n_zones, zones_hit, rows_matched,
       ((rows_matched + {ZM_ROWS - 1}) // {ZM_ROWS})::BIGINT AS ideal_zones,
       1.0::DOUBLE - CAST(zones_hit AS DOUBLE) / CAST(n_zones AS DOUBLE)
         AS skip_rate,
       CASE WHEN (rows_matched + {ZM_ROWS - 1}) // {ZM_ROWS} > 0
            THEN CAST(zones_hit AS DOUBLE)
                 / CAST((rows_matched + {ZM_ROWS - 1}) // {ZM_ROWS}
                        AS DOUBLE)
            ELSE NULL END AS clustering_factor
FROM u ORDER BY layout
"""


# --------------------------------------------------------------------------
# q171: term-shard skew audit — the partitioning-design question for
# the inverted index at 100 TB: hash-partitioning the postings by TERM
# (the natural plan — every q13/q121 scorer wants a term's postings
# co-located) concentrates the df-skewed head terms onto single
# shards; salting the key with the doc id rebalances perfectly but
# scatters each term. This op quantifies that trade on the real token
# stream: per shard, posting mass and distinct keys under both
# strategies, with the straggler factor (shard mass / ideal share)
# that predicts the reduce-stage tail at scale.
#
# Scale shape: ONE explode + one (strategy, shard) hash agg each —
# bounded output 2·N_SHARDS rows; the audit itself is the q44
# portable-hash expression, so the shard assignment is bit-identical
# on any engine. All counts exact int64; the two ratios are single
# IEEE divisions against a 1-row broadcast total, UNROUNDED.
# --------------------------------------------------------------------------

SHARD_N = 16


def q171_term_shard_skew(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _tables.load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("term"),
    )

    def phash(col):
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast(
            "long"
        ) % SHARD_N

    by_term = tok.select(
        F.lit("by_term").alias("strategy"),
        phash(F.col("term")).alias("shard"),
        "term",
        F.concat_ws("#", F.col("term"), F.col("doc_id")).alias("key"),
    )
    salted = tok.select(
        F.lit("salted").alias("strategy"),
        phash(
            F.concat_ws("#", F.col("term"), F.col("doc_id"))
        ).alias("shard"),
        "term",
        F.concat_ws("#", F.col("term"), F.col("doc_id")).alias("key"),
    )
    u = by_term.unionByName(salted)
    per_shard = u.groupBy("strategy", "shard").agg(
        F.count("*").cast("long").alias("mass"),
        F.countDistinct("key").cast("long").alias("n_keys"),
    )
    total = F.broadcast(
        tok.groupBy().agg(F.count("*").cast("long").alias("total_mass"))
    )
    ideal = F.col("total_mass").cast("double") / F.lit(float(SHARD_N))
    return (
        per_shard.crossJoin(total)
        .select(
            "strategy",
            "shard",
            "n_keys",
            "mass",
            (F.col("mass").cast("double") / F.col("total_mass").cast("double"))
            .alias("share"),
            (F.col("mass").cast("double") / ideal).alias("straggler"),
        )
        .orderBy("strategy", "shard")
    )


QUERIES["q171_term_shard_skew"] = q171_term_shard_skew

ORACLE["q171_term_shard_skew"] = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS term
  FROM documents
),
u AS (
  SELECT 'by_term' AS strategy,
         ('0x' || substr(md5(term), 1, 15))::BIGINT % {SHARD_N} AS shard,
         term || '#' || CAST(doc_id AS VARCHAR) AS key
  FROM tok
  UNION ALL
  SELECT 'salted' AS strategy,
         ('0x' || substr(md5(term || '#' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT % {SHARD_N} AS shard,
         term || '#' || CAST(doc_id AS VARCHAR) AS key
  FROM tok
),
per_shard AS (
  SELECT strategy, shard, count(*)::BIGINT AS mass,
         count(DISTINCT key)::BIGINT AS n_keys
  FROM u GROUP BY strategy, shard
),
tot AS (SELECT count(*)::BIGINT AS total_mass FROM tok)
SELECT strategy, shard, n_keys, mass,
       CAST(mass AS DOUBLE) / CAST(total_mass AS DOUBLE) AS share,
       CAST(mass AS DOUBLE)
         / (CAST(total_mass AS DOUBLE) / {float(SHARD_N)!r}::DOUBLE)
         AS straggler
FROM per_shard, tot
ORDER BY strategy, shard
"""


# --------------------------------------------------------------------------
# q205: hot-term replicated routing table — the fix for the skew
# q171 measured: assign the top ROUTE_HOT terms (by posting mass) to
# ALL shards (replicated — each shard serves its local fraction of a
# hot term's postings, the doc-partitioned "hybrid" scheme Elastic/
# Lucene deployments use for hot shards) and hash-route the cold
# tail. The table IS the serving artifact; alongside it the audit
# re-computes the q171 balance under the hybrid scheme so the
# improvement is a number, not a hope: cold mass lands by term hash,
# hot mass divides by ROUTE_N evenly (its per-shard share is
# mass div N + pro-rata remainder by shard index — exact integers).
#
# Determinism: masses exact int64; the hot set is a TakeOrdered
# top-H with total tie-break; remainder distribution uses integer
# compares only. Scale shape: one (term) mass agg, H-row broadcast,
# ≤ N-row balance rollup.
# --------------------------------------------------------------------------

ROUTE_N = 16
# on a Zipf corpus a handful of head terms suffices; the fixture's
# flat 31-word mass needs H covering most of the head before the
# replicated fraction dominates the lumpy hashed tail (measured:
# H=8 WORSENS the worst shard 2.15->2.38, H=20 improves it to 1.71
# at BOTH sf0.01 and sf0.1 — pinned by the pytest)
ROUTE_HOT = 20


def q205_hot_term_routing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = _tables.load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("term"),
    )
    mass = tok.groupBy("term").agg(
        F.count("*").cast("long").alias("mass")
    )
    w = Window.orderBy(F.desc("mass"), F.asc("term"))
    ranked = mass.withColumn("rnk", F.row_number().over(w).cast("long"))
    hot = ranked.filter(F.col("rnk") <= ROUTE_HOT)
    cold = ranked.filter(F.col("rnk") > ROUTE_HOT)
    shards = spark.createDataFrame(
        [(s,) for s in range(ROUTE_N)], "shard int"
    )
    hot_rows = (
        hot.crossJoin(F.broadcast(shards))
        .select(
            "term",
            "shard",
            F.lit("replicated").alias("route"),
            (
                F.expr(f"mass div {ROUTE_N}")
                + F.when(
                    F.col("shard")
                    < F.col("mass") % ROUTE_N,
                    1,
                ).otherwise(0)
            ).cast("long").alias("shard_mass"),
        )
    )
    cold_rows = cold.select(
        "term",
        (
            F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10)
            .cast("long")
            % ROUTE_N
        ).cast("int").alias("shard"),
        F.lit("hashed").alias("route"),
        F.col("mass").alias("shard_mass"),
    )
    rows = hot_rows.unionByName(cold_rows)
    balance = rows.groupBy("shard").agg(
        F.sum("shard_mass").cast("long").alias("total_mass")
    )
    tot = F.broadcast(
        balance.groupBy().agg(
            F.sum("total_mass").cast("long").alias("grand"),
            F.max("total_mass").cast("long").alias("max_shard"),
        )
    )
    return (
        balance.crossJoin(tot)
        .select(
            "shard",
            "total_mass",
            (
                F.col("total_mass").cast("double")
                / (F.col("grand").cast("double") / F.lit(float(ROUTE_N)))
            ).alias("straggler"),
            (
                F.col("max_shard").cast("double")
                / (F.col("grand").cast("double") / F.lit(float(ROUTE_N)))
            ).alias("worst_straggler"),
        )
        .orderBy("shard")
    )


QUERIES["q205_hot_term_routing"] = q205_hot_term_routing

ORACLE["q205_hot_term_routing"] = f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS term
  FROM documents
),
mass AS (SELECT term, count(*)::BIGINT AS mass FROM tok GROUP BY term),
ranked AS (
  SELECT term, mass,
         row_number() OVER (ORDER BY mass DESC, term ASC)::BIGINT AS rnk
  FROM mass
),
shards AS (SELECT unnest(generate_series(0, {ROUTE_N - 1}))::INT AS shard),
hot_rows AS (
  SELECT r.term, s.shard,
         (r.mass // {ROUTE_N}
          + CASE WHEN s.shard < r.mass % {ROUTE_N} THEN 1 ELSE 0 END
         )::BIGINT AS shard_mass
  FROM ranked r CROSS JOIN shards s WHERE r.rnk <= {ROUTE_HOT}
),
cold_rows AS (
  SELECT term,
         (('0x' || substr(md5(term), 1, 15))::BIGINT % {ROUTE_N})::INT
           AS shard,
         mass AS shard_mass
  FROM ranked WHERE rnk > {ROUTE_HOT}
),
rows_all AS (
  SELECT shard, shard_mass FROM hot_rows
  UNION ALL SELECT shard, shard_mass FROM cold_rows
),
balance AS (
  SELECT shard, sum(shard_mass)::BIGINT AS total_mass
  FROM rows_all GROUP BY shard
),
tot AS (
  SELECT sum(total_mass)::BIGINT AS grand,
         max(total_mass)::BIGINT AS max_shard
  FROM balance
)
SELECT b.shard, b.total_mass,
       CAST(b.total_mass AS DOUBLE)
         / (CAST(t.grand AS DOUBLE) / {float(ROUTE_N)!r}::DOUBLE)
         AS straggler,
       CAST(t.max_shard AS DOUBLE)
         / (CAST(t.grand AS DOUBLE) / {float(ROUTE_N)!r}::DOUBLE)
         AS worst_straggler
FROM balance b, tot t
ORDER BY b.shard
"""


# --------------------------------------------------------------------------
# q207: query decode-budget estimator — the per-term serving cost
# model behind WAND's range planning (a query's range count is its
# most-salted term's salts, so it scales with df): for each query
# term, the EXACT varbyte posting-list size from the real doc-id gap
# distribution (delta + varbyte is the classic
# postings layout, q138's audit measures the corpus-wide version;
# this is the per-QUERY-term view a query planner prices before
# choosing ranges/caches). Bytes(gap) is the integer 7-bit-group
# ladder — pure integer compares, exact on any engine.
#
# Scale shape: posting lists per query term (df-bounded), one lag()
# window per term over the doc-id order (the salted index stores
# exactly this order), one |terms|-row rollup. At 100 TB this reads
# the dictionary's stored sizes; the estimator here derives them
# from first principles for the audit.
# --------------------------------------------------------------------------

DECODE_MBPS = 400.0  # conservative per-task varbyte decode rate


def q207_query_decode_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = _tables.load(spark, sf_dir, "documents")
    pres = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("term"),
        )
        .filter(F.col("term").isin(["spark", "query", "table"]))
        .distinct()
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = pres.withColumn(
        "gap",
        F.when(
            F.lag("doc_id").over(w).isNull(), F.col("doc_id")
        ).otherwise(F.col("doc_id") - F.lag("doc_id").over(w)),
    )
    vb = (
        F.when(F.col("gap") < 128, 1)
        .when(F.col("gap") < 16384, 2)
        .when(F.col("gap") < 2097152, 3)
        .when(F.col("gap") < 268435456, 4)
        .when(F.col("gap") < 34359738368, 5)
        .when(F.col("gap") < 4398046511104, 6)
        .when(F.col("gap") < 562949953421312, 7)
        .when(F.col("gap") < 72057594037927936, 8)
        .otherwise(9)
        .cast("long")
    )
    g = gaps.withColumn("vb", vb).groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("vb").cast("long").alias("bytes_varbyte"),
        F.max("vb").cast("long").alias("max_gap_bytes"),
    )
    return g.select(
        "term",
        "df",
        "bytes_varbyte",
        (
            F.col("bytes_varbyte").cast("double")
            / F.col("df").cast("double")
        ).alias("bytes_per_posting"),
        "max_gap_bytes",
        (
            F.col("bytes_varbyte").cast("double")
            / F.lit(DECODE_MBPS * 1e6)
            * F.lit(1e3)
        ).alias("decode_ms_est"),
    ).orderBy("term")


QUERIES["q207_query_decode_budget"] = q207_query_decode_budget

_VB_SQL = """CASE WHEN gap < 128 THEN 1
     WHEN gap < 16384 THEN 2
     WHEN gap < 2097152 THEN 3
     WHEN gap < 268435456 THEN 4
     WHEN gap < 34359738368 THEN 5
     WHEN gap < 4398046511104 THEN 6
     WHEN gap < 562949953421312 THEN 7
     WHEN gap < 72057594037927936 THEN 8
     ELSE 9 END"""

ORACLE["q207_query_decode_budget"] = f"""
WITH pres AS (
  SELECT DISTINCT doc_id, w AS term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
  WHERE w IN ('spark', 'query', 'table')
),
gaps AS (
  SELECT term,
         CASE WHEN lag(doc_id) OVER w IS NULL THEN doc_id
              ELSE doc_id - lag(doc_id) OVER w END AS gap
  FROM pres
  WINDOW w AS (PARTITION BY term ORDER BY doc_id)
),
g AS (
  SELECT term, count(*)::BIGINT AS df,
         sum({_VB_SQL})::BIGINT AS bytes_varbyte,
         max({_VB_SQL})::BIGINT AS max_gap_bytes
  FROM gaps GROUP BY term
)
SELECT term, df, bytes_varbyte,
       CAST(bytes_varbyte AS DOUBLE) / CAST(df AS DOUBLE)
         AS bytes_per_posting,
       max_gap_bytes,
       CAST(bytes_varbyte AS DOUBLE) / ({DECODE_MBPS!r}::DOUBLE * 1e6)
         * 1e3 AS decode_ms_est
FROM g ORDER BY term
"""


# --------------------------------------------------------------------------
# q211: LSM merge-policy write-amplification planner — the closed-
# form table behind merge.py's tiered(ratio=0.10) choice: for a
# literal grid of total-data/flush-size ratios, the bytes-rewritten
# multiplier under LEVELED (each level rewrites ~fanout× per level:
# WA ≈ F·log_F(D/s)) vs TIERED (each byte rewritten once per level:
# WA ≈ log_F(D/s)) and the read-amplification trade (leveled reads 1
# sorted run per level; tiered reads up to F). This is q172's
# literal-grid pattern applied to the storage engine — the table an
# LSM operator actually consults, with the repo's own measured 10.3×
# (BASELINE LSM proof) sitting on the tiered row it predicts.
#
# Determinism: the grid is FIXED literals, log/div closed forms
# rounded 9 on both engines (the q172 rule: data-independent grids
# may round — the 24 values can never drift). ZERO data reads.
# --------------------------------------------------------------------------

LSM_FANOUTS = [4, 10]
LSM_RATIOS = [100, 1_000, 10_000, 100_000]  # D / flush_size


def q211_lsm_writeamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.createDataFrame(
        [(f, r) for f in LSM_FANOUTS for r in LSM_RATIOS],
        "fanout int, ratio int",
    )
    levels = F.ceil(
        F.log(F.col("ratio").cast("double"))
        / F.log(F.col("fanout").cast("double"))
    ).cast("long")
    wa_leveled = F.round(
        F.col("fanout").cast("double") * levels.cast("double"), 9
    )
    wa_tiered = levels.cast("double")
    ra_leveled = levels.cast("double")
    ra_tiered = F.round(
        F.col("fanout").cast("double") * levels.cast("double"), 9
    )
    return grid.select(
        "fanout",
        "ratio",
        levels.alias("n_levels"),
        wa_leveled.alias("wa_leveled"),
        wa_tiered.alias("wa_tiered"),
        ra_leveled.alias("ra_leveled"),
        ra_tiered.alias("ra_tiered_worst"),
    ).orderBy("fanout", "ratio")


QUERIES["q211_lsm_writeamp"] = q211_lsm_writeamp

_LSM_GRID = ", ".join(
    f"({f}, {r})" for f in LSM_FANOUTS for r in LSM_RATIOS
)

ORACLE["q211_lsm_writeamp"] = f"""
WITH grid(fanout, ratio) AS (VALUES {_LSM_GRID}),
lv AS (
  SELECT fanout, ratio,
         CAST(ceil(ln(CAST(ratio AS DOUBLE))
                   / ln(CAST(fanout AS DOUBLE))) AS BIGINT) AS n_levels
  FROM grid
)
SELECT fanout::INT AS fanout, ratio::INT AS ratio, n_levels,
       round(CAST(fanout AS DOUBLE) * CAST(n_levels AS DOUBLE), 9)
         AS wa_leveled,
       CAST(n_levels AS DOUBLE) AS wa_tiered,
       CAST(n_levels AS DOUBLE) AS ra_leveled,
       round(CAST(fanout AS DOUBLE) * CAST(n_levels AS DOUBLE), 9)
         AS ra_tiered_worst
FROM lv
ORDER BY fanout, ratio
"""


# --------------------------------------------------------------------------
# q213: consistent-hash ring balance — the THIRD partitioning scheme
# next to q171 (static hash) and q205 (hot replication): consistent
# hashing is what lets a 100 TB index ADD a shard without reshuffling
# everything (only ~1/N of keys move), and its known cost is balance
# variance, tamed with virtual nodes. This op builds the ring
# (RING_SHARDS × RING_VNODES md5 positions), assigns every term's
# posting mass to its clockwise successor vnode, and publishes the
# per-shard census — the straggler column is directly comparable to
# q171's.
#
# Determinism: ring positions and key positions are portable md5
# ints; successor assignment = an exact range lookup (sorted vnode
# intervals via lead(), wrap handled by routing keys past the last
# vnode to the ring's FIRST — min position — vnode). All exact
# int64. Scale shape: the ring is a literal-grid broadcast (~N·V
# rows); assignment is ONE range join of the vocab census against
# the broadcast intervals; census ≤ N rows.
# --------------------------------------------------------------------------

RING_SHARDS = 16
RING_VNODES = 8
RING_SPACE = 1 << 60


def q213_consistent_hash_ring(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = _tables.load(spark, sf_dir, "documents")
    mass = (
        docs.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("mass"))
        .withColumn(
            "pos",
            F.conv(
                F.substring(F.md5(F.col("term")), 1, 15), 16, 10
            ).cast("long"),
        )
    )
    vgrid = spark.createDataFrame(
        [
            (s, v)
            for s in range(RING_SHARDS)
            for v in range(RING_VNODES)
        ],
        "shard int, vnode int",
    )
    ring = vgrid.select(
        "shard",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("#", F.lit("ring"), F.col("shard"), F.col("vnode"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long").alias("vpos"),
    )
    w = Window.orderBy("vpos")
    iv = ring.withColumn(
        "nxt", F.lead("vpos").over(w)
    )
    # ownership convention: the LAST vnode at or before the key owns it
    # (cyclic — keys below the first vnode wrap to the last); the same
    # ring algebra as successor-ownership, equally standard, and it
    # maps to ONE [vpos, nxt) interval join
    assigned = mass.join(
        F.broadcast(iv),
        (F.col("pos") >= F.col("vpos"))
        & (F.col("nxt").isNull() | (F.col("pos") < F.col("nxt"))),
        "left",
    )
    # keys BELOW the first vnode wrap to the LAST vnode (owner = last
    # at-or-before, cyclic): those got no interval match above
    last_shard = F.broadcast(
        iv.filter(F.col("nxt").isNull()).select(
            F.col("shard").alias("wrap_shard")
        )
    )
    out = (
        assigned.crossJoin(last_shard)
        .select(
            "term",
            "mass",
            F.coalesce(F.col("shard"), F.col("wrap_shard")).alias(
                "owner"
            ),
        )
    )
    census = out.groupBy(F.col("owner").alias("shard")).agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("mass").cast("long").alias("total_mass"),
    )
    tot = F.broadcast(
        census.groupBy().agg(
            F.sum("total_mass").cast("long").alias("grand")
        )
    )
    return (
        census.crossJoin(tot)
        .select(
            "shard",
            "n_terms",
            "total_mass",
            (
                F.col("total_mass").cast("double")
                / (
                    F.col("grand").cast("double")
                    / F.lit(float(RING_SHARDS))
                )
            ).alias("straggler"),
        )
        .orderBy("shard")
    )


QUERIES["q213_consistent_hash_ring"] = q213_consistent_hash_ring

ORACLE["q213_consistent_hash_ring"] = f"""
WITH mass AS (
  SELECT term, count(*)::BIGINT AS mass,
         ('0x' || substr(md5(term), 1, 15))::BIGINT AS pos
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS term FROM documents)
  GROUP BY term
),
vgrid AS (
  SELECT s.shard, v.vnode
  FROM (SELECT unnest(generate_series(0, {RING_SHARDS - 1}))::INT
          AS shard) s,
       (SELECT unnest(generate_series(0, {RING_VNODES - 1}))::INT
          AS vnode) v
),
ring AS (
  SELECT shard,
         ('0x' || substr(md5('ring' || '#' || CAST(shard AS VARCHAR)
                          || '#' || CAST(vnode AS VARCHAR)), 1, 15))::BIGINT
           AS vpos
  FROM vgrid
),
iv AS (
  SELECT shard, vpos, lead(vpos) OVER (ORDER BY vpos) AS nxt FROM ring
),
wrap AS (SELECT shard AS wrap_shard FROM iv WHERE nxt IS NULL),
owned AS (
  SELECT m.term, m.mass,
         COALESCE(i.shard, w.wrap_shard) AS owner
  FROM mass m
  LEFT JOIN iv i
    ON m.pos >= i.vpos AND (i.nxt IS NULL OR m.pos < i.nxt), wrap w
),
census AS (
  SELECT owner AS shard, count(*)::BIGINT AS n_terms,
         sum(mass)::BIGINT AS total_mass
  FROM owned GROUP BY owner
),
tot AS (SELECT sum(total_mass)::BIGINT AS grand FROM census)
SELECT shard, n_terms, total_mass,
       CAST(total_mass AS DOUBLE)
         / (CAST(grand AS DOUBLE) / {float(RING_SHARDS)!r}::DOUBLE)
         AS straggler
FROM census, tot
ORDER BY shard
"""
