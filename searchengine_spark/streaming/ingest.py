"""Incremental corpus ingestion via Structured Streaming.

New page files landing in a directory are tokenized with the SAME
Arrow-vectorized kernel the batch build uses and appended to the
bucket-partitioned tokens table. The stream checkpoint replaces the
batch build's chunk lineage: the file source never re-reads an ingested
file across restarts, and each micro-batch lands in its own
``chunk=stream-<ckpt-hash>-<batch_id>`` directory written with
overwrite — a replayed batch (crash between the write and the
checkpoint commit) overwrites its own output instead of appending
duplicates, making the token table effectively exactly-once. The chunk
name embeds a hash of the checkpoint location because batch ids are
only unique WITHIN one checkpoint: a second ingest run with a fresh
checkpoint (new source dir, recreated checkpoint) restarts at batch 0,
and a bare ``stream-<batch_id>`` name would silently overwrite —
i.e. destroy — the first ingest's batch-0 tokens. Downstream, ``merge.
merge_tokens_stage`` folds the new chunk directories into the
compressed postings without rebuilding untouched buckets — the classic
incremental-index pattern (streaming tokenize, periodic compaction).

All processing is inside ``foreachBatch`` re-using the batch code path,
so streaming and batch can never drift semantically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from ..indexer import (
    PAGES_SPARK_SCHEMA,
    _bucket,
    _ingest_filter,
    docs_with_scoring_text,
    tokenize,
)
from . import batch_dir


def stream_tokenize(
    spark: SparkSession,
    pages_dir: str,
    tokens_out: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
    max_files_per_trigger: int | None = None,
):
    """Start (availableNow) the incremental tokenize stream; returns the
    StreamingQuery. Idempotent across restarts via the checkpoint.

    ``n_buckets`` defaults to the index's ``_meta.json`` value when
    ``tokens_out`` sits inside an index root — the writer MUST agree
    with the readers' term-hash pruning, or streamed tokens merge into
    buckets queries never look in. Pass it explicitly only for a
    standalone tokens table."""
    if n_buckets is None:
        root = os.path.dirname(os.path.normpath(tokens_out))
        try:
            n_buckets = int(catalog.read_meta(root)["n_buckets"])
        except (OSError, KeyError, ValueError):
            n_buckets = catalog.N_BUCKETS
    reader = (
        spark.readStream.schema(PAGES_SPARK_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger or 16)
        .parquet(pages_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = docs_with_scoring_text(_ingest_filter(batch_df))
        toks = tokenize(docs).withColumn("bucket", _bucket("term", n_buckets))
        # one overwritten directory per (checkpoint, micro-batch):
        # replaying the batch after a crash rewrites the same files
        # (idempotent), a DIFFERENT checkpoint's batch 0 lands in its own
        # directory (no cross-run clobber), and the chunk= layout matches
        # the batch build's, so read_tokens and merge_tokens_stage see
        # stream chunks like any other chunk
        out = os.path.join(tokens_out, batch_dir(checkpoint_dir, batch_id, "chunk"))
        (
            toks.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )

    return (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
