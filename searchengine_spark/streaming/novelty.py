"""Streaming n-gram novelty — the incremental twin of the batch q105
(pipelines/curation.ngram_novelty_from): track, as a crawl streams in,
what share of each document's shingles the corpus has never seen.

The batch op is MIN(doc_id) per shingle + a join back over the
shingle-occurrence table. That table is a per-doc MAP of the input —
each document contributes its rows exactly once, independent of every
other document — so the streaming form writes each micro-batch's
PARTIAL occurrence table and defers the *first-occurrence decision* to
read time, where the MIN fold sees the union of all batches. The
ordering is load-bearing in both directions: a shingle introduced in
batch 0 makes a batch-5 re-crawl's occurrence non-novel, and a LATER
batch can never steal novelty from an earlier doc (MIN over doc_id) —
so per-doc novelty is stable once written, exactly the property a
crawl-budget dashboard needs. MIN is commutative/associative/
idempotent (the HLL-register argument from ``streaming/sketch.py``),
so at-least-once replay is harmless even before the per-batch-directory
overwrite dedups the storage.

Scale shape: partials carry (doc_id, source, sh) with sh the portable
60-bit shingle hash — 8-byte keys, never shingle text (the batch entry
keeps the string only because the fixture vocabulary is tiny); the
read-time fold is the same two hash aggregations the batch path runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipelines.curation import ngram_novelty_from, novelty_occurrences
from ..pipelines.dedup import portable_hash
from . import batch_dir
from .sketch import DOCS_SCHEMA


def stream_novelty_occurrences(
    spark: SparkSession,
    docs_dir: str,
    novelty_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = DOCS_SCHEMA,
):
    """availableNow stream over a documents directory: write each
    micro-batch's hashed occurrence partial to
    ``novelty_dir/occ/batch=stream-<ckpt-hash>-<id>`` (overwrite — replay-idempotent).
    Returns the StreamingQuery."""
    s = spark.readStream.schema(schema).parquet(docs_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        occ = novelty_occurrences(batch_df).select(
            "doc_id", "source", portable_hash(F.col("s")).alias("sh")
        )
        occ.write.mode("overwrite").parquet(
            os.path.join(novelty_dir, "occ", batch_dir(checkpoint_dir, batch_id))
        )

    return (
        s.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_ngram_novelty(spark: SparkSession, novelty_dir: str) -> DataFrame:
    """Fold all per-batch partials and run the q105 aggregation — row-
    identical to batch q105 over the union of streamed docs (the 60-bit
    hash key is first-occurrence-equivalent to the shingle string)."""
    occ = spark.read.parquet(os.path.join(novelty_dir, "occ"))
    return ngram_novelty_from(occ, key="sh")
