"""Streaming standing-query percolation — the incremental twin of the
batch q134 operator (pipelines/fulltext.py): a FIXED rule set of
standing queries is matched against every incoming document as it
streams in, emitting one alert row per (document, satisfied rule) —
the Elasticsearch-percolator / alerting deployment of the fulltext
engine (the reference serves forward search only; an alerting tier
inverts it).

Statefulness: NONE — a document is row-atomic, so every alert it can
ever fire is computable from its own micro-batch (``percolate_alerts``
never joins docs to docs). That makes the twin trivially exactly-once
under the per-batch-directory overwrite idiom (``streaming/anchors``):
each batch's alerts land in
``alerts_dir/batch=stream-<ckpt-hash>-<id>`` (batch ids are only
unique per checkpoint — the ckpt tag keeps a re-ingest with a fresh
checkpoint from clobbering a prior run's partials, CLAUDE.md's chunk-
name invariant), and a replay of the same (checkpoint, batch)
overwrites the same dir.

Scale shape: the rule member table is O(|rules|) rows and BROADCAST
into each micro-batch's distinct-token pass — per-batch cost is linear
in streamed tokens, no cross-batch state store at all (contrast the
dedup twin, whose state grows with distinct keys).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..pipelines.fulltext import percolate_alerts
from . import batch_dir
from .dedup import DOCS_SCHEMA


def stream_percolate(
    spark: SparkSession,
    docs_dir: str,
    rules: DataFrame,
    alerts_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = DOCS_SCHEMA,
):
    """availableNow stream over a documents directory: write each
    micro-batch's (doc_id, term_a, term_b) alert partial under
    ``alerts_dir``. ``rules`` is a STATIC member table from
    ``percolate_rules`` (mined from a reference corpus before the
    stream starts — rules must not drift mid-stream). Returns the
    StreamingQuery."""
    s = spark.readStream.schema(schema).parquet(docs_dir)

    def match_batch(batch_df: DataFrame, batch_id: int) -> None:
        percolate_alerts(batch_df, rules).write.mode("overwrite").parquet(
            os.path.join(alerts_dir, batch_dir(checkpoint_dir, batch_id))
        )

    return (
        s.writeStream.foreachBatch(match_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_alerts(spark: SparkSession, alerts_dir: str) -> DataFrame:
    """Union of all per-batch alert partials — row-identical to batch
    ``percolate_alerts`` over the union of streamed documents (no fold
    needed: alerts are per-doc facts, each emitted exactly once)."""
    return spark.read.parquet(alerts_dir).select(
        "doc_id", "term_a", "term_b"
    )
