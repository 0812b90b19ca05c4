"""Inverted-index build: pages -> tokens -> docstats -> salted compressed
posting segments, with per-partition lineage (resume) at every stage.

Reference parity: this is the Spark-first rebuild of ``jobs/Indexer.java``
(title index) + ``jobs/TF_IDF.java`` (scored index). The reference's
implicit shuffle (KVS routed puts, ``spark/Worker.java:95``) becomes the
``repartition``/``groupBy`` below; its accidental fromTable predicates
(``spark/Worker.java:310-319``) become the explicit ingestion filter.

Scale design (the part that must survive 1000 executors / 100 TB):

* tokenize is embarrassingly parallel and chunked for resume: chunk =
  pmod(xxhash64(url), N_CHUNKS); each chunk writes its token rows
  *partitioned by term-bucket* so the postings stage reads only its own
  bucket directories (partition pruning, no re-scan of the corpus).
* postings build runs per bucket (resume unit), so a killed build
  restarts at the first incomplete bucket. Inside a bucket, head terms
  are salted: n_salts = ceil(df / TARGET_POSTINGS); salt = the doc_id's
  quantile of the (uniform, xxhash64-derived) doc-id space — every
  (term, salt) blob is bounded, which bounds applyInPandas group memory
  and kills Zipf skew (the reference has no skew story at all:
  ``tools/Partitioner.java``). Quantile (range) salting, not pmod: a
  term's salted blobs are doc-RANGE-disjoint and ordered, so query-time
  merge is a concatenation and a (query, doc-range) serving task can
  select just the blobs overlapping its range (bounded-memory WAND).
* doc_len is varbyte-encoded alongside each posting so BM25 needs no
  join against docstats at query time.
* all IDs are deterministic (xxhash64(url)), all blobs sorted by doc_id:
  two builds at different parallelism produce byte-identical segments.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import catalog, checkpoint
from .bm25 import tf_norm
from .compress import (
    block_byte_offsets,
    encode_position_lists,
    encode_postings,
    varbyte_encode,
    varbyte_nbytes,
)
from .textprep import (
    extract_titlep_lower_series,
    java_tokens,
    stem_tokens,
    tokenize_partition,
)

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
        T.StructField("doc_len", T.IntegerType()),
        T.StructField("max_tf", T.IntegerType()),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("n_salts", T.IntegerType()),
        T.StructField("n_postings", T.IntegerType()),
        T.StructField("doc_blob", T.BinaryType()),
        T.StructField("tf_blob", T.BinaryType()),
        T.StructField("dl_blob", T.BinaryType()),
        T.StructField("pos_blob", T.BinaryType()),
        T.StructField("block_last", T.ArrayType(T.LongType())),
        T.StructField("block_max_norm", T.ArrayType(T.FloatType())),
        # byte offset of each block's first varbyte inside its blob —
        # lets WAND decode only the blocks it visits (skip decoding)
        T.StructField("doc_boff", T.ArrayType(T.LongType())),
        T.StructField("tf_boff", T.ArrayType(T.LongType())),
        T.StructField("dl_boff", T.ArrayType(T.LongType())),
        # the avgdl the block maxima were computed with: after an
        # incremental merge shifts corpus avgdl, untouched segments stay
        # valid — query-time bounds are inflated by max(1, avgdl/ref)
        # (tf_norm grows at most linearly in avgdl), scores themselves
        # always use the decoded tf/dl with the CURRENT avgdl
        T.StructField("avgdl_ref", T.DoubleType()),
        T.StructField("max_norm", T.FloatType()),
    ]
)


def salt_expr(n_salts_col):
    """Range (quantile) salt of a doc_id: which of n_salts equal slices
    of the signed-int64 doc-id space the id falls in, from its top 32
    bits — exact integer math, monotone in doc_id, so salted blobs are
    doc-range-disjoint AND ordered by salt."""
    top32 = F.shiftright("doc_id", 32) + F.lit(1 << 31)  # [0, 2^32)
    return F.shiftright(top32 * n_salts_col, 32).cast("int")


def salt_of(doc_ids: np.ndarray, n_salts: int) -> np.ndarray:
    """numpy twin of ``salt_expr`` (merge job / tests)."""
    top32 = ((doc_ids.astype(np.int64) >> 32) + (1 << 31)).astype(np.int64)
    return ((top32 * n_salts) >> 32).astype(np.int32)


def _ingest_filter(pages: DataFrame) -> DataFrame:
    return pages.filter(
        (~F.col("url").contains("..")) & (F.length("url") <= F.lit(2048))
    )


def ingest(spark: SparkSession, pages_path: str) -> DataFrame:
    """Read the pages corpus and apply the explicit ingestion predicates.

    The reference hard-codes these inside its table-scan executor
    (``spark/Worker.java:310-319``); here they are declarative so Catalyst
    pushes them into the parquet scan.
    """
    return _ingest_filter(spark.read.parquet(pages_path))


def _chunk_files(pages_path: str, n_chunks: int) -> list[list[str]] | None:
    """File-granular chunk plan: corpus directories are split by part
    file (the Common-Crawl shape — lineage and resume at WARC-file
    granularity, and each chunk scans ONLY its own files). Returns None
    for a single-file corpus (falls back to hash-chunking rows)."""
    files = catalog.list_files(pages_path, ".parquet")
    if not files:
        return None
    return [files[c::n_chunks] for c in range(n_chunks)]


def docs_with_scoring_text(pages: DataFrame) -> DataFrame:
    """(doc_id, url, text) where text is the TF_IDF scoring pipeline
    (title + <p>, lowercased) extracted from html — Arrow-vectorized."""
    extract = F.pandas_udf(extract_titlep_lower_series, T.StringType())
    return pages.select(
        F.xxhash64("url").alias("doc_id"),
        "url",
        extract(F.col("html")).alias("text"),
    )


def tokenize(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text) -> (doc_id, term, tf, positions, doc_len, max_tf)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return tokenize_partition(batches, "doc_id", "text")

    return docs.mapInPandas(kernel, TOKENS_SCHEMA)


def _bucket(col: str = "term", n_buckets: int = catalog.N_BUCKETS):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def term_buckets(spark: SparkSession, terms: list[str], n_buckets: int) -> dict[str, int]:
    """Bucket assignment for query terms — driver-side via the pinned
    XXH64 replica (xxh64.py). This used to run a tiny Spark job to keep
    the hash in the JVM, but that job cost ~0.4 s of scheduling per
    request — the largest slice of the solo-serving plan phase
    (perfbench's traced serve workload). The replica is bit-pinned against
    `F.xxhash64` by tests/test_ids.py; the build side (`_bucket`) stays
    JVM-evaluated, so any drift would break rank identity loudly.
    Python's % on a positive modulus is exactly Spark's pmod."""
    from .xxhash64 import spark_xxhash64_str

    return {t: spark_xxhash64_str(t) % n_buckets for t in terms}


# ---------------------------------------------------------------------------
# Stage 1: tokens (chunked, partitioned by term bucket)
# ---------------------------------------------------------------------------

def build_tokens_stage(
    spark: SparkSession,
    pages_path: str,
    root: str,
    build_id: str,
    n_chunks: int = catalog.N_CHUNKS,
    n_buckets: int = catalog.N_BUCKETS,
    kill_after: int | None = None,
) -> None:
    tokens_root = catalog.path(root, catalog.TOKENS)
    file_chunks = _chunk_files(pages_path, n_chunks)
    # the fingerprint covers input CONTENT (file list + sizes) and the
    # chunk-assignment mode, not just parameters: resuming a partial
    # build after the corpus (or the chunking scheme) changed must
    # recompute, never serve a silently stale mix (v=2 invalidates all
    # v=1 partial builds, which used hash-chunking in some chunks).
    fp = checkpoint.fingerprint(
        stage="tokens", pages=pages_path, n_chunks=n_chunks, n_buckets=n_buckets,
        mode="files" if file_chunks is not None else "hash",
        content=catalog.content_fingerprint(pages_path), v=2,
    )
    catalog.write_meta(root, n_buckets=n_buckets, n_chunks=n_chunks)

    def run_chunk(c: int) -> tuple[str, int, int]:
        out = os.path.join(tokens_root, f"chunk={c}")
        if file_chunks is not None:
            if not file_chunks[c]:
                os.makedirs(out, exist_ok=True)
                return out, 0, 0
            pages = _ingest_filter(spark.read.parquet(*file_chunks[c]))
        else:
            pages = ingest(spark, pages_path).filter(
                F.pmod(F.xxhash64("url"), F.lit(n_chunks)) == F.lit(c)
            )
        # The Python extraction is the hot path; its parallelism is the
        # input-split count. When the chunk has fewer splits than cores
        # (small fixtures, few row groups) spread it first — at real
        # scale each chunk holds many files and this is a no-op. The
        # split count is estimated from the file plan (bytes /
        # maxPartitionBytes), not via df.rdd.getNumPartitions(), which
        # forces a DataFrame->RDD conversion in the hot build path.
        target = spark.sparkContext.defaultParallelism
        if _estimate_splits(spark, file_chunks[c] if file_chunks else None) < target:
            pages = pages.repartition(target)
        docs = docs_with_scoring_text(pages)
        toks = tokenize(docs).withColumn("bucket", _bucket("term", n_buckets))
        # spread across ALL cores, not just n_buckets tasks, while
        # bounding the partitionBy write fan-out: shuffle on (bucket,
        # sub) where sub has n_out/n_buckets values, so each write task
        # holds ~1 bucket and the output stays ~n_out files per chunk
        n_out = max(n_buckets, spark.sparkContext.defaultParallelism)
        sub = F.pmod(F.xxhash64("doc_id"), F.lit(max(n_out // n_buckets, 1)))
        (
            toks.repartition(n_out, "bucket", sub)
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )
        nrows, nbytes = catalog.parquet_rows_bytes(out)
        return out, nrows, nbytes

    checkpoint.run_partitioned_stage(
        root, build_id, "tokens", list(range(n_chunks)), fp, run_chunk,
        kill_after=kill_after,
    )


def _estimate_splits(spark: SparkSession, files: list[str] | None) -> int:
    """Scan-partition estimate from the file plan: one split per
    maxPartitionBytes-sized slice of each file (ignores openCostInBytes
    packing — an under-estimate only triggers a redundant repartition,
    never starvation). ``None`` (single-file corpus) -> 1, forcing the
    spread."""
    if not files:
        return 1
    conf = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    # Spark accepts "4m", "128mb", "1g", "4194304", "4194304b", ...
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "b": 1}
    s = conf.strip().lower()
    if s.endswith("b") and len(s) > 1 and s[-2] in units and s[-2] != "b":
        s = s[:-1]
    mult = units.get(s[-1], 1)
    max_bytes = int(s[:-1]) * mult if s[-1] in units else int(s)
    return sum(
        max(1, -(-os.path.getsize(f) // max_bytes)) for f in files
    )


def read_tokens(spark: SparkSession, root: str, bucket: int | None = None) -> DataFrame:
    tokens_root = catalog.path(root, catalog.TOKENS)
    df = spark.read.option("basePath", tokens_root).parquet(tokens_root)
    if bucket is not None:
        df = df.filter(F.col("bucket") == F.lit(bucket))  # partition-pruned
    return df


# ---------------------------------------------------------------------------
# Stage 2: docstats + corpus scalars
# ---------------------------------------------------------------------------

def build_docstats_stage(
    spark: SparkSession, pages_path: str, root: str, build_id: str
) -> None:
    fp = checkpoint.fingerprint(
        stage="docstats", pages=pages_path,
        content=catalog.content_fingerprint(pages_path),
        tokens=catalog.content_fingerprint(catalog.path(root, catalog.TOKENS)),
        v=2,
    )

    def run(_pid: int) -> tuple[str, int, int]:
        docs = ingest(spark, pages_path).select(
            F.xxhash64("url").alias("doc_id"), "url"
        )
        doc_lens = (
            read_tokens(spark, root)
            .groupBy("doc_id")
            .agg(F.max("doc_len").alias("doc_len"))
        )
        stats_df = docs.join(doc_lens, "doc_id", "left").select(
            "doc_id", "url", F.coalesce("doc_len", F.lit(0)).alias("doc_len")
        )
        out = catalog.path(root, catalog.DOCSTATS)
        st_out = catalog.path(root, catalog.STATS)
        # aside+swap, not overwrite-in-place: a concurrent reader (or a
        # crash mid-write) must never observe a missing/half docstats or
        # stats dir — the same window merge._docstats_from_tokens closes
        catalog.restore_aside(out)
        catalog.restore_aside(st_out)
        catalog.replace_dir(
            out, lambda t: stats_df.write.mode("overwrite").parquet(t)
        )
        written = spark.read.parquet(out)
        agg = written.agg(
            F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
        )
        catalog.replace_dir(
            st_out, lambda t: agg.write.mode("overwrite").parquet(t)
        )
        n, nbytes = catalog.parquet_rows_bytes(out)
        return out, n, nbytes

    checkpoint.run_partitioned_stage(root, build_id, "docstats", [0], fp, run)


def read_stats(spark: SparkSession, root: str) -> tuple[int, float]:
    row = spark.read.parquet(catalog.path(root, catalog.STATS)).collect()[0]
    return int(row["n_docs"]), float(row["avgdl"])


# ---------------------------------------------------------------------------
# Stage 3: salted compressed postings, per bucket
# ---------------------------------------------------------------------------

def _postings_kernel(avgdl: float):
    """applyInPandas kernel: all token rows of one (term, salt) group ->
    one compressed segment row."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        tfs = pdf["tf"].to_numpy(dtype=np.int64)
        dls = pdf["doc_len"].to_numpy(dtype=np.int64)
        tf_norms = tf_norm(tfs, dls, avgdl)
        doc_blob, tf_blob, block_last, block_max, (doc_boff, tf_boff) = (
            encode_postings(doc_ids, tfs, tf_norms)
        )
        dl_u = dls.astype(np.uint64)
        dl_blob = varbyte_encode(dl_u)
        dl_boff = block_byte_offsets(varbyte_nbytes(dl_u))
        # positions: per doc, [n, delta1, delta2, ...] concatenated.
        # Vectorized over the whole group (one Python iteration per
        # posting here was ~40% of build CPU at 13M postings; this is
        # byte-identical and ~4x faster — tests/test_compress.py pins
        # the equivalence against the scalar reference).
        pos_blob = encode_position_lists(pdf["positions"].to_numpy())
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "term": [pdf["term"].iloc[0]],
                "salt": [int(pdf["salt"].iloc[0])],
                "n_salts": [int(pdf["n_salts"].iloc[0])],
                "n_postings": [len(doc_ids)],
                "doc_blob": [doc_blob],
                "tf_blob": [tf_blob],
                "dl_blob": [dl_blob],
                "pos_blob": [pos_blob],
                "block_last": [block_last.tolist()],
                "block_max_norm": [block_max.tolist()],
                "doc_boff": [doc_boff.tolist()],
                "tf_boff": [tf_boff.tolist()],
                "dl_boff": [dl_boff.tolist()],
                "avgdl_ref": [float(avgdl)],
                "max_norm": [float(block_max.max())],
            }
        )

    return build


def postings_fingerprint(
    root: str,
    n_buckets: int,
    target_postings: int,
    group_size: int,
    manifest: list | None = None,
) -> str:
    """The postings stage's lineage fingerprint — shared with merge.py,
    which records post-merge segments as complete under the NEW tokens
    manifest (a merged bucket is equivalent to a from-scratch rebuild)."""
    import hashlib
    import json

    if manifest is None:
        manifest = catalog.tree_manifest(catalog.path(root, catalog.TOKENS))
    content = hashlib.md5(json.dumps(manifest).encode()).hexdigest()
    return checkpoint.fingerprint(
        stage="postings", n_buckets=n_buckets, target=target_postings,
        group_size=group_size, content=content, v=catalog.INDEX_FORMAT,
    )


def build_postings_stage(
    spark: SparkSession,
    root: str,
    build_id: str,
    n_buckets: int = catalog.N_BUCKETS,
    target_postings: int = catalog.TARGET_POSTINGS,
    group_size: int = catalog.BUCKET_GROUP_SIZE,
    kill_after: int | None = None,
) -> None:
    """Compressed salted postings. The resume unit is a GROUP of
    ``group_size`` term buckets: one Spark job per group (salt-plan,
    salt, encode, write partitionBy(bucket)) instead of one per bucket
    — per-job fixed cost amortizes over the group while the on-disk
    layout stays bucket-partitioned for query-time pruning."""
    n_groups = max((n_buckets + group_size - 1) // group_size, 1)
    # content= covers which token files exist: re-running after tokens
    # changed (e.g. a streaming append) recomputes every group instead
    # of serving a silently stale index. v tracks catalog.INDEX_FORMAT:
    # range salting + byte offsets + n_salts/avgdl_ref columns
    # invalidate all earlier segments.
    tokens_manifest = catalog.tree_manifest(catalog.path(root, catalog.TOKENS))
    fp = postings_fingerprint(
        root, n_buckets, target_postings, group_size, manifest=tokens_manifest
    )
    catalog.write_meta(
        root, n_buckets=n_buckets, target_postings=target_postings,
        group_size=group_size,
    )
    _, avgdl = read_stats(spark, root)
    postings_root = catalog.path(root, catalog.POSTINGS)
    dict_root = catalog.path(root, "dictionary")

    def run_group(g: int) -> tuple[str, int, int]:
        bs = list(range(g * group_size, min((g + 1) * group_size, n_buckets)))
        toks = read_tokens(spark, root).filter(F.col("bucket").isin(bs))
        term_stats = toks.groupBy("bucket", "term").agg(
            F.count("*").alias("df"), F.sum("tf").alias("cf")
        )
        salt_plan = term_stats.select(
            "bucket",
            "term",
            "df",
            "cf",
            F.ceil(F.col("df") / F.lit(target_postings)).cast("int").alias("n_salts"),
        )
        # dictionary FIRST, then broadcast the re-read: the segments job
        # and the dictionary otherwise each materialize the same token
        # scan + (bucket, term) aggregation — one redundant full pass
        # over the group's tokens per group (merge.py already plans this
        # way for a different reason: its downstream must never re-run a
        # lineage that points at pre-swap segment files)
        dict_out = os.path.join(dict_root, f"group={g}")
        salt_plan.write.mode("overwrite").parquet(dict_out)
        salt_plan = spark.read.parquet(dict_out)
        salted = toks.join(
            F.broadcast(salt_plan.select("term", "n_salts")), "term"
        ).withColumn("salt", salt_expr(F.col("n_salts")))
        segments = salted.groupBy("bucket", "term", "salt").applyInPandas(
            _postings_kernel(avgdl), POSTINGS_SCHEMA
        )
        out = os.path.join(postings_root, f"group={g}")
        segments.write.mode("overwrite").partitionBy("bucket").parquet(out)
        n, nbytes = catalog.parquet_rows_bytes(out)
        return out, n, nbytes

    checkpoint.run_partitioned_stage(
        root, build_id, "postings", list(range(n_groups)), fp, run_group,
        kill_after=kill_after, max_parallel=4,
    )
    # record which token files these segments incorporate — merge.py
    # computes its delta against this manifest
    catalog.write_meta(root, tokens_manifest=[list(x) for x in tokens_manifest])


# ---------------------------------------------------------------------------
# Stage 4: title index (reference pt-title analog: Indexer pipeline —
# raw tokens of the title-only extraction, stemmed, NOT lowercased)
# ---------------------------------------------------------------------------

TITLE_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ]
)


def build_title_index_stage(
    spark: SparkSession, pages_path: str, root: str, build_id: str
) -> None:
    fp = checkpoint.fingerprint(
        stage="title_index", pages=pages_path,
        content=catalog.content_fingerprint(pages_path), v=2,
    )

    def run(_pid: int) -> tuple[str, int, int]:
        pages = ingest(spark, pages_path)
        docs = pages.select(F.xxhash64("url").alias("doc_id"), "text")

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_t, out_d = [], []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    # Indexer.java:47-52: raw whitespace tokens, stemmed,
                    # no lowercasing, no length guard on the title path.
                    toks = stem_tokens(java_tokens(text or "", max_len=1 << 30))
                    uniq = sorted(set(toks))
                    out_t.extend(uniq)
                    out_d.extend([doc_id] * len(uniq))
                yield pd.DataFrame(
                    {
                        "term": pd.Series(out_t, dtype="object"),
                        "doc_id": pd.Series(out_d, dtype="int64"),
                    }
                )

        out = catalog.path(root, catalog.TITLE_INDEX)
        docs.mapInPandas(kernel, TITLE_SCHEMA).write.mode("overwrite").parquet(out)
        n, nbytes = catalog.parquet_rows_bytes(out)
        return out, n, nbytes

    checkpoint.run_partitioned_stage(root, build_id, "title_index", [0], fp, run)


# ---------------------------------------------------------------------------
# Orchestration
# ---------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    pages_path: str,
    root: str,
    build_id: str = "build-1",
    n_chunks: int = catalog.N_CHUNKS,
    n_buckets: int = catalog.N_BUCKETS,
    target_postings: int = catalog.TARGET_POSTINGS,
) -> None:
    """Full resumable index build. Re-running after a kill recomputes only
    partitions absent from the lineage table."""
    if catalog.read_meta(root).get("tokens_vacuumed"):
        # the tokens substrate was reclaimed (merge.vacuum_tokens): the
        # docstats stage would silently recompute doc_lens from the
        # emptied tree (doc_len=0 everywhere, avgdl=0 — ranking
        # destroyed with nothing downstream to notice). A vacuumed index
        # keeps serving/ingest/merge; a REBUILD needs a fresh root.
        raise RuntimeError(
            f"{root} is a vacuumed index root (tokens reclaimed) — "
            "rebuild into a fresh root from the pages source instead"
        )
    build_tokens_stage(spark, pages_path, root, build_id, n_chunks, n_buckets)
    build_docstats_stage(spark, pages_path, root, build_id)
    build_postings_stage(spark, root, build_id, n_buckets, target_postings)
    build_title_index_stage(spark, pages_path, root, build_id)
