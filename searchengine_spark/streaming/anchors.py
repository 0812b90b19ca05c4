"""Streaming inbound anchor-field maintenance — the incremental twin of
the batch anchor stage (``anchors.anchor_terms`` /
``build_anchor_stage``), the serving signal q119/q121 expose as
oracle-gated pipeline twins.

Anchor occurrence extraction is a PER-PAGE map (``anchor_occurrences``:
href regex + URL normalize + title-pipeline term set per anchor — each
page contributes its rows independently of every other page), so the
streaming form writes each micro-batch's occurrence PARTIAL and defers
the aggregation to read time, where the (doc_id, term) count folds over
the union of all batches. The ordering is load-bearing: a target whose
inbound anchors arrive in different micro-batches gets the SUM of its
per-batch counts only because the fold groups the union — any per-batch
``anchor_terms`` would under-count it (the cross-batch property the
test pins). Per-batch-directory overwrite upgrades foreachBatch's
at-least-once replay to exactly-once occurrence rows — the same layout
argument as ``streaming/spans.py`` and the count-min twin.

At scale the partials are bounded by streamed anchor tokens (far below
the token table); a compactor could periodically fold them into the
serving ``anchor_index`` layout, which is exactly what a merge-time
``build_anchor_stage`` run over the grown pages tree produces (the
content fingerprint guarantees the refresh fires — see anchors.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..anchors import anchor_occurrences
from ..indexer import PAGES_SPARK_SCHEMA
from . import batch_dir


def stream_anchor_occurrences(
    spark: SparkSession,
    pages_dir: str,
    anchors_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = PAGES_SPARK_SCHEMA,
):
    """availableNow stream over a pages directory: write each
    micro-batch's (doc_id, term) anchor-occurrence partial to
    ``anchors_dir/occ/batch=stream-<ckpt-hash>-<id>`` (overwrite —
    replay-idempotent). Returns the StreamingQuery.

    The partial dir embeds the checkpoint identity exactly like
    ``streaming/ingest``'s chunk names: batch ids are only unique PER
    CHECKPOINT, and the COUNT fold in ``read_anchor_field`` is not
    idempotent under cross-run collisions — a re-ingest with a fresh
    checkpoint over the same anchors_dir would overwrite only its own
    low batch ids and leave stale higher-numbered partials from the
    prior run to be double-counted. With the ckpt tag in the name, a
    second run's partials land in their own directories and a replay of
    the SAME (checkpoint, batch) overwrites the same dir (exactly-once
    over at-least-once)."""
    s = spark.readStream.schema(schema).parquet(pages_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        anchor_occurrences(batch_df).write.mode("overwrite").parquet(
            os.path.join(anchors_dir, "occ", batch_dir(checkpoint_dir, batch_id))
        )

    return (
        s.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_anchor_field(spark: SparkSession, anchors_dir: str) -> DataFrame:
    """Fold all per-batch partials into the (doc_id, term, n_anchors)
    anchor field — row-identical to batch ``anchor_terms`` over the
    union of streamed pages."""
    occ = spark.read.parquet(os.path.join(anchors_dir, "occ"))
    return occ.groupBy("doc_id", "term").agg(
        F.count("*").alias("n_anchors")
    )
