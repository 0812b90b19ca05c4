"""Streaming HyperLogLog — the incremental twin of the batch q44
sketch (pipelines/relational.py): maintain distinct-count registers for
a continuously ingested event stream without ever re-scanning history.

Why HLL is THE streaming/100 TB cardinality tool: the register merge is
MAX — commutative, associative, and idempotent — so

* micro-batch boundaries don't matter: registers from any split of the
  input union+MAX to exactly the batch registers (the equality the test
  asserts, to the last bit of the estimate);
* at-least-once delivery is EXACTLY correct: replaying a micro-batch
  MAXes the same rhos in again — no dedup machinery, no idempotent-write
  protocol needed for correctness (we still write per-batch directories
  with overwrite so replays don't even duplicate storage);
* a 1000-executor deployment merges per-segment register tables of
  k·m rows (m=1024) — kilobytes per key, independent of input size.

Layout: ``registers_dir/batch=stream-<ckpt-hash>-<id>/`` holds each
micro-batch's PARTIAL register table (key, bucket, mrho) — the
checkpoint hash keeps a second run with a fresh checkpoint from
overwriting the first run's batches; readers fold all partials with one
groupBy-MAX (k·m·n_batches tiny rows). A compactor would just rewrite
the folded table; at register scale it is never needed.

The count-min twin (``stream_cms``) follows the same per-batch-partial
layout with a SUM fold: SUM is commutative/associative but NOT
idempotent, so there the overwrite-per-batch-directory write is what
upgrades foreachBatch's at-least-once to exactly-once counters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import batch_dir

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_hll(
    spark: SparkSession,
    events_dir: str,
    registers_dir: str,
    checkpoint_dir: str,
    key: str = "event_type",
    value: str = "user_id",
    schema: T.StructType = EVENTS_SCHEMA,
):
    """availableNow stream: write each micro-batch's partial HLL
    register table to ``registers_dir/batch=stream-<ckpt-hash>-<id>`` (overwrite —
    replay-idempotent). Returns the StreamingQuery."""
    from ..pipelines.relational import hll_registers

    s = spark.readStream.schema(schema).parquet(events_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(registers_dir, batch_dir(checkpoint_dir, batch_id))
        hll_registers(batch_df, key, value).write.mode("overwrite").parquet(out)

    return (
        s.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def stream_cms(
    spark: SparkSession,
    docs_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = DOCS_SCHEMA,
):
    """availableNow stream over a documents directory: write each
    micro-batch's partial count-min grid to ``sketch_dir/batch=stream-<ckpt-hash>-<id>``
    (overwrite — a replayed batch rewrites the same partial rather than
    double-counting; the SUM fold then sees each batch exactly once).
    Unlike HLL's MAX, SUM is not idempotent, so the per-batch-directory
    layout is what carries exactly-once here."""
    from ..pipelines.textstats import _tok_arr, cms_sketch

    s = spark.readStream.schema(schema).parquet(docs_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(sketch_dir, batch_dir(checkpoint_dir, batch_id))
        toks = batch_df.select(F.explode(_tok_arr()).alias("tok"))
        cms_sketch(toks).write.mode("overwrite").parquet(out)

    return (
        s.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cms_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Fold all per-batch partial grids into the global count-min grid
    (row, bucket, cnt) — one groupBy-SUM."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def read_hll_registers(spark: SparkSession, registers_dir: str) -> DataFrame:
    """Fold all per-batch partial register tables into the merged
    register table (key, bucket, mrho) — one groupBy-MAX."""
    return (
        spark.read.parquet(registers_dir)
        .groupBy("key", "bucket")
        .agg(F.max("mrho").alias("mrho"))
    )


def hll_distinct(spark: SparkSession, registers_dir: str) -> DataFrame:
    """Per-key distinct-count estimates from the streamed registers —
    identical to the batch q44 estimate over the same input."""
    from ..pipelines.relational import hll_estimate

    return hll_estimate(read_hll_registers(spark, registers_dir))
