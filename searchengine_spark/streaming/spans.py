"""Streaming duplicated-span detection — the incremental twin of the
batch q55 (pipelines/dedup.dup_spans).

The batch op is two hash aggregations over the shingle-occurrence table
(doc_id, pos, sh). That table is a per-doc MAP of the input — each
document contributes its rows exactly once, independent of every other
document — so the streaming form writes each micro-batch's PARTIAL
occurrence table (plus the tiny per-doc (doc_id, n_toks) base) and
defers the *duplicate decision* to read time, where the fold sees the
union of all batches. That ordering is load-bearing: a span whose two
copies arrive in different micro-batches is invisible to any per-batch
q55 but found by the folded one — the cross-batch property the test
pins. Per-batch-directory overwrite upgrades foreachBatch's
at-least-once replay to exactly-once occurrence rows (same layout
argument as the count-min twin in ``streaming/sketch.py``).

At scale the occurrence partials are linear in streamed tokens with
8-byte span keys; a compactor could fold them into a (sh, doc_id, pos)
table keyed for pruning, but the read-time groupBys are the same two
hash aggregations the batch path runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..pipelines.dedup import dup_spans_from, span_doc_base, span_occurrences
from . import batch_dir
from .sketch import DOCS_SCHEMA


def stream_span_occurrences(
    spark: SparkSession,
    docs_dir: str,
    spans_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = DOCS_SCHEMA,
):
    """availableNow stream over a documents directory: write each
    micro-batch's occurrence partial to ``spans_dir/occ/<batch>`` and
    its (doc_id, n_toks) base to ``spans_dir/docs/<batch>``, with
    <batch> = ``batch=stream-<ckpt-hash>-<id>`` (both overwrite —
    replay-idempotent). Returns the StreamingQuery."""
    s = spark.readStream.schema(schema).parquet(docs_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        base = span_doc_base(batch_df)
        base.select("doc_id", "n_toks").write.mode("overwrite").parquet(
            os.path.join(spans_dir, "docs", batch_dir(checkpoint_dir, batch_id))
        )
        span_occurrences(base).write.mode("overwrite").parquet(
            os.path.join(spans_dir, "occ", batch_dir(checkpoint_dir, batch_id))
        )

    return (
        s.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_dup_spans(spark: SparkSession, spans_dir: str) -> DataFrame:
    """Fold all per-batch partials and run the q55 aggregation — row-
    identical to batch ``dup_spans`` over the union of streamed docs."""
    base = spark.read.parquet(os.path.join(spans_dir, "docs"))
    occ = spark.read.parquet(os.path.join(spans_dir, "occ"))
    return dup_spans_from(base, occ)
