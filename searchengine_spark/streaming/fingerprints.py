"""Streaming winnowing fingerprints — the incremental twin of the
batch q161 operator (pipelines/textstats.winnow_parts): maintain every
document's selected fingerprint set as the corpus streams in, so
near-dup evidence (shared fingerprints — the MOSS signal) is available
continuously without re-fingerprinting history.

Winnowing is a pure per-doc MAP — a document's selected set depends on
nothing outside the document — so the streaming form writes each
micro-batch's (nk, sel) partials and defers NOTHING: the read-time
fold is a plain union, row-identical to batch by construction. What IS
genuinely cross-batch is the *use*: `read_shared_pairs` joins the
union of all batches' fingerprints against itself, so a batch-7
arrival immediately surfaces its overlap with a batch-0 document —
the property a plagiarism/near-dup monitor needs and a per-batch-local
run cannot have.

Replay idempotence: per-batch overwrite directories
``batch=stream-<ckpt-hash>-<id>`` (same checkpoint ⇒ same batch id ⇒
same dir — the CLAUDE.md stream-chunk rule). The checkpoint hash is in
the name because batch ids are only unique within one checkpoint: a
second run with a fresh checkpoint into the same fp_dir restarts at
batch 0 and must not overwrite the first run's batch 0.

Scale shape: partials carry (doc_id, selkey) int64 pairs — ~2/(W+1)
of the k-gram count per doc, never text; the pair join keys on the
26-bit fingerprint hash with a df cap (FP_PAIR_MAX_DF) so stop-
fingerprints (boilerplate every doc shares) cannot go quadratic —
q83's stop-shingle argument.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipelines.textstats import (
    WIN_POS_BITS,
    winnow_census,
    winnow_parts,
)
from . import batch_dir
from .sketch import DOCS_SCHEMA

FP_PAIR_MIN_SHARED = 2   # report doc pairs sharing >= this many prints
FP_PAIR_MAX_DF = 64      # stop-fingerprint cap (q83's argument)


def stream_winnow_fingerprints(
    spark: SparkSession,
    docs_dir: str,
    fp_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = DOCS_SCHEMA,
):
    """availableNow stream over a documents directory: write each
    micro-batch's winnowing partials to
    ``fp_dir/{nk,sel}/batch=stream-<ckpt-hash>-<id>`` (overwrite —
    replay-idempotent). Returns the StreamingQuery."""
    s = spark.readStream.schema(schema).parquet(docs_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        nk, sel = winnow_parts(batch_df)
        name = batch_dir(checkpoint_dir, batch_id)
        nk.write.mode("overwrite").parquet(os.path.join(fp_dir, "nk", name))
        sel.write.mode("overwrite").parquet(os.path.join(fp_dir, "sel", name))

    return (
        s.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_winnow_census(spark: SparkSession, fp_dir: str) -> DataFrame:
    """Union all batches' partials and produce the q161 census — row-
    identical to batch q161 over the union of streamed docs."""
    nk = spark.read.parquet(os.path.join(fp_dir, "nk"))
    sel = spark.read.parquet(os.path.join(fp_dir, "sel"))
    return winnow_census(nk, sel)


def read_shared_pairs(spark: SparkSession, fp_dir: str) -> DataFrame:
    """Cross-batch near-dup evidence: doc pairs sharing >=
    FP_PAIR_MIN_SHARED fingerprint hashes (position-independent), with
    stop-fingerprints (df > FP_PAIR_MAX_DF) excluded from pairing."""
    sel = spark.read.parquet(os.path.join(fp_dir, "sel"))
    fp = sel.select(
        "doc_id",
        F.shiftright("selkey", WIN_POS_BITS).alias("fp"),
    ).distinct()
    # broadcast only the over-cap stop set (at most |fp rows| / cap
    # rows); the full fingerprint -> df table grows with the corpus
    stop = (
        fp.groupBy("fp").agg(F.count("*").alias("df"))
        .filter(F.col("df") > FP_PAIR_MAX_DF)
        .select("fp")
    )
    live = fp.join(F.broadcast(stop), "fp", "left_anti")
    a = live.select(F.col("doc_id").alias("doc_a"), "fp")
    b = live.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= FP_PAIR_MIN_SHARED)
        .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
    )
