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
  (term, salt) blob is bounded, which bounds the encode kernel's memory
  (one blob plus one Arrow batch: a ``mapInArrow`` pass over rows
  sorted by (bucket, term, salt, doc_id), see ``encode_segments``) and
  kills Zipf skew (the reference has no skew story at all:
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
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from . import catalog, checkpoint, corpus
from .bm25 import tf_norm
from .compress import encode_segment
from .textprep import (
    extract_titlep_lower_series,
    java_tokens,
    stem_tokens,
    tokenize_partition,
)

# kernel outputs: a table's declared schema less the partition columns
# its writer adds
TOKENS_SCHEMA = catalog.schema(catalog.TOKENS, drop=("chunk", "bucket"))
POSTINGS_SCHEMA = catalog.schema(catalog.POSTINGS, drop=("group",))


def salt_expr(n_salts_col):
    """Range (quantile) salt of a doc_id: which of n_salts equal slices
    of the signed-int64 doc-id space the id falls in, from its top 32
    bits — exact integer math, monotone in doc_id, so salted blobs are
    doc-range-disjoint AND ordered by salt."""
    top32 = F.shiftright("doc_id", 32) + F.lit(1 << 31)  # [0, 2^32)
    return F.shiftright(top32 * n_salts_col, 32).cast("int")


def salt_of(doc_ids: np.ndarray, n_salts: int) -> np.ndarray:
    """numpy twin of ``salt_expr`` (tests)."""
    top32 = ((doc_ids.astype(np.int64) >> 32) + (1 << 31)).astype(np.int64)
    return ((top32 * n_salts) >> 32).astype(np.int32)


def _ingest_filter(pages: DataFrame) -> DataFrame:
    return pages.filter(
        (~F.col("url").contains("..")) & (F.length("url") <= F.lit(2048))
    )


# the pages corpus is external input: one declared schema, the writer's
PAGES_SPARK_SCHEMA = from_arrow_schema(corpus.PAGES_SCHEMA)


def ingest(spark: SparkSession, *pages_paths: str) -> DataFrame:
    """Read the pages corpus and apply the explicit ingestion predicates.

    The reference hard-codes these inside its table-scan executor
    (``spark/Worker.java:310-319``); here they are declarative so Catalyst
    pushes them into the parquet scan. The read uses the declared
    ``PAGES_SPARK_SCHEMA``, so it runs no schema-inference job; one
    file's footer is checked instead (pyarrow, no Spark job), and a pages
    table lacking a declared column is refused.
    """
    _check_pages_footer(pages_paths)
    return _ingest_filter(spark.read.schema(PAGES_SPARK_SCHEMA).parquet(*pages_paths))


def _check_pages_footer(pages_paths: tuple[str, ...]) -> None:
    """Raise ValueError when the first pages file (a path itself, or the
    first visible file directly under a directory) lacks a column of
    ``corpus.PAGES_SCHEMA``."""
    import pyarrow.parquet as pq

    for p in pages_paths:
        files = [p] if os.path.isfile(p) else [
            f for f in catalog.list_files(p)
            if not os.path.basename(f).startswith(("_", "."))
        ]
        if files:
            missing = set(corpus.PAGES_SCHEMA.names) - set(pq.read_schema(files[0]).names)
            if missing:
                raise ValueError(
                    f"pages table {files[0]} lacks column(s) {sorted(missing)}"
                )
            return


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
            pages = ingest(spark, *file_chunks[c])
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
    df = catalog.read(spark, root, catalog.TOKENS)
    if bucket is not None:
        df = df.filter(F.col("bucket") == F.lit(bucket))  # partition-pruned
    return df


# ---------------------------------------------------------------------------
# Stage 2: docstats + corpus scalars
# ---------------------------------------------------------------------------

def write_docstats(spark: SparkSession, root: str, docstats: DataFrame) -> None:
    """The one docstats writer, shared by the build stage and the merge:
    swap ``docstats`` (doc_id, url, doc_len) in, then write the corpus
    scalars BM25 reads — n_docs and avgdl, aggregated over the written
    table — to ``_meta.json``."""
    out = catalog.path(root, catalog.DOCSTATS)
    # aside+swap, not overwrite-in-place: a concurrent reader (or a
    # crash mid-write) must never observe a missing/half docstats dir
    catalog.replace_dir(
        out, lambda t: docstats.write.mode("overwrite").parquet(t)
    )
    row = catalog.read(spark, root, catalog.DOCSTATS).agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    catalog.write_meta(root, n_docs=int(row["n_docs"]), avgdl=float(row["avgdl"]))


def build_docstats_stage(
    spark: SparkSession, pages_path: str, root: str, build_id: str
) -> None:
    fp = checkpoint.fingerprint(
        stage="docstats", pages=pages_path,
        content=catalog.content_fingerprint(pages_path),
        tokens=catalog.content_fingerprint(catalog.path(root, catalog.TOKENS)),
        v=3,
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
        write_docstats(spark, root, docs.join(doc_lens, "doc_id", "left").select(
            "doc_id", "url", F.coalesce("doc_len", F.lit(0)).alias("doc_len")
        ))
        out = catalog.path(root, catalog.DOCSTATS)
        n, nbytes = catalog.parquet_rows_bytes(out)
        return out, n, nbytes

    checkpoint.run_partitioned_stage(root, build_id, "docstats", [0], fp, run)


def read_stats(spark: SparkSession, root: str) -> tuple[int, float]:
    """(n_docs, avgdl) from ``_meta.json`` — no Spark job."""
    meta = catalog.read_meta(root)
    if "n_docs" not in meta or "avgdl" not in meta:
        raise RuntimeError(
            f"{root}/_meta.json has no n_docs/avgdl — rebuild the docstats "
            "stage (build_docstats_stage writes them) before querying"
        )
    return int(meta["n_docs"]), float(meta["avgdl"])


# ---------------------------------------------------------------------------
# Stage 3: salted compressed postings, per bucket
# ---------------------------------------------------------------------------

def _segments_kernel(avgdl: float):
    """mapInArrow kernel: salted token rows, sorted by (bucket, term,
    salt, doc_id) within the partition -> one ``POSTINGS_SCHEMA`` row per
    (bucket, term, salt) run. Runs are found per Arrow batch with
    whole-array compares; a run may straddle batches, so the batch's last
    run is carried (copied, so no earlier batch stays alive) and encoded
    once its key changes or the partition ends. Positions come from the
    ListArray's flat values and offsets; no pandas object is built."""
    schema = to_arrow_schema(POSTINGS_SCHEMA)

    def runs(rb: pa.RecordBatch):
        """(key, piece) per run of one batch, in row order; the key
        carries n_salts, which is constant per (bucket, term)."""
        n = rb.num_rows
        bucket = rb.column("bucket").to_numpy()
        term = rb.column("term")
        salt = rb.column("salt").to_numpy()
        change = np.ones(n, dtype=bool)
        change[1:] = (
            (bucket[1:] != bucket[:-1])
            | (salt[1:] != salt[:-1])
            | pc.not_equal(term.slice(1), term.slice(0, n - 1)).to_numpy(
                zero_copy_only=False
            )
        )
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)
        cols = [rb.column(c).to_numpy() for c in ("doc_id", "tf", "doc_len")]
        pos = rb.column("positions")
        offs, vals = pos.offsets.to_numpy(), pos.values.to_numpy()
        n_salts = rb.column("n_salts").to_numpy()
        for s, e in zip(starts.tolist(), ends.tolist()):
            key = (int(bucket[s]), term[s].as_py(), int(salt[s]),
                   int(n_salts[s]))
            piece = (*(c[s:e] for c in cols), vals[offs[s]:offs[e]],
                     np.diff(offs[s:e + 1]))
            yield key, piece

    def encode(key: tuple, pieces: list) -> dict:
        doc_ids, tfs, dls, positions, lens = (
            np.concatenate(parts) for parts in zip(*pieces)
        )
        tfs, dls = tfs.astype(np.int64), dls.astype(np.int64)
        pos_offsets = np.zeros(len(lens) + 1, np.int64)
        np.cumsum(lens, out=pos_offsets[1:])
        seg = encode_segment(
            doc_ids, tfs, dls, positions,
            tf_norm(tfs, dls, avgdl), pos_offsets=pos_offsets,
        )
        bucket, term, salt, n_salts = key
        return {"bucket": bucket, "term": term, "salt": salt,
                "n_salts": n_salts, **seg, "avgdl_ref": float(avgdl)}

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        open_key, pieces = None, []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            rows = []
            for key, piece in runs(rb):
                if key != open_key:
                    if pieces:
                        rows.append(encode(open_key, pieces))
                    open_key, pieces = key, []
                pieces.append(piece)
            pieces[-1] = tuple(a.copy() for a in pieces[-1])
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=schema)
        if pieces:
            yield pa.RecordBatch.from_pylist(
                [encode(open_key, pieces)], schema=schema
            )

    return kernel


def encode_segments(toks: DataFrame, target_postings: int, avgdl: float) -> DataFrame:
    """Token rows (bucket, term, doc_id, tf, positions, doc_len) -> one
    ``POSTINGS_SCHEMA`` row per (bucket, term, salt) — the one segment
    writer of the batch build and the merge.

    The salt plan — n_salts per (bucket, term), an aggregate of ``toks``
    — is broadcast into the salting join; it is never written. ``toks``
    is scanned twice (plan, segments): the merge persists its union so
    the old blobs are decoded once.

    The salted rows are hash-partitioned on (bucket, term, salt) — the
    shuffle that spreads a head term's salts over tasks — and sorted
    within each partition by (bucket, term, salt, doc_id), so every
    (term, salt) posting list is one contiguous doc-ordered run that the
    ``mapInArrow`` kernel encodes with one ``compress.encode_segment``
    call. Doc ids are unique within a term, so the order is total and
    the segments are the same bytes at any partitioning or batch size."""
    salt_plan = toks.groupBy("bucket", "term").agg(
        F.ceil(F.count("*") / F.lit(target_postings)).cast("int").alias("n_salts")
    )
    keys = ["bucket", "term", "salt"]
    salted = toks.join(
        F.broadcast(salt_plan.select("term", "n_salts")), "term"
    ).withColumn("salt", salt_expr(F.col("n_salts")))
    return (
        salted.select(*keys, "n_salts", "doc_id", "tf", "doc_len", "positions")
        .repartition(*keys)
        .sortWithinPartitions(*keys, "doc_id")
        .mapInArrow(_segments_kernel(avgdl), POSTINGS_SCHEMA)
    )


class PostingsLayout(NamedTuple):
    """How an index lays its postings out: term-hash buckets, at most
    ``target_postings`` postings per segment, ``group_size`` buckets per
    group (the build's resume unit) — the order ``postings_fingerprint``
    takes them in."""

    n_buckets: int
    target_postings: int = catalog.TARGET_POSTINGS
    group_size: int = catalog.BUCKET_GROUP_SIZE

    @classmethod
    def of(cls, root: str) -> PostingsLayout:
        """The layout ``_meta.json`` records (the source of truth)."""
        meta = catalog.read_meta(root)
        return cls(
            int(meta["n_buckets"]),
            int(meta.get("target_postings", catalog.TARGET_POSTINGS)),
            int(meta.get("group_size", catalog.BUCKET_GROUP_SIZE)),
        )

    @property
    def n_groups(self) -> int:
        return max(-(-self.n_buckets // self.group_size), 1)

    def buckets(self, g: int) -> list[int]:
        return list(range(g * self.group_size,
                          min((g + 1) * self.group_size, self.n_buckets)))

    def group_dir(self, root: str, g: int) -> str:
        return os.path.join(catalog.path(root, catalog.POSTINGS), f"group={g}")

    def bucket_dir(self, root: str, b: int) -> str:
        return os.path.join(self.group_dir(root, b // self.group_size),
                            f"bucket={b}")


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


def rebase_postings_lineage(
    root: str, build_id: str, fp: str, layout: PostingsLayout
) -> None:
    """Record every postings group complete under ``fp`` unless its
    latest lineage row already is — for segments known equal to a
    ``build_postings_stage`` run under ``fp`` whose token tree changed
    without a rebuild: after a merge (merged buckets are rebuilds by
    construction, the rest were untouched by the delta) and after
    ``merge.vacuum_tokens`` (the segments did not change at all). Keeps
    fsck's lineage check green and makes a later build resume as a
    no-op."""
    done = checkpoint.completed_partitions(root, "postings", fp)
    for g in range(layout.n_groups):
        if g not in done:
            gdir = layout.group_dir(root, g)
            rows, nbytes = catalog.parquet_rows_bytes(gdir)
            checkpoint.record(
                root, build_id, "postings", g, fp, gdir, rows, nbytes, 0
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
    layout = PostingsLayout(n_buckets, target_postings, group_size)
    # content= covers which token files exist: re-running after tokens
    # changed (e.g. a streaming append) recomputes every group instead
    # of serving a silently stale index. v tracks catalog.INDEX_FORMAT:
    # range salting + byte offsets + n_salts/avgdl_ref columns
    # invalidate all earlier segments.
    tokens_manifest = catalog.tree_manifest(catalog.path(root, catalog.TOKENS))
    fp = postings_fingerprint(root, *layout, manifest=tokens_manifest)
    catalog.write_meta(root, **layout._asdict())
    _, avgdl = read_stats(spark, root)

    def run_group(g: int) -> tuple[str, int, int]:
        toks = read_tokens(spark, root).filter(
            F.col("bucket").isin(layout.buckets(g))
        )
        out = layout.group_dir(root, g)
        encode_segments(toks, target_postings, avgdl).write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(out)
        n, nbytes = catalog.parquet_rows_bytes(out)
        return out, n, nbytes

    checkpoint.run_partitioned_stage(
        root, build_id, "postings", list(range(layout.n_groups)), fp, run_group,
        kill_after=kill_after, max_parallel=4,
    )
    # record which token files these segments incorporate — merge.py
    # computes its delta against this manifest
    catalog.write_meta(root, tokens_manifest=[list(x) for x in tokens_manifest])


# ---------------------------------------------------------------------------
# Stage 4: title index (reference pt-title analog: Indexer pipeline —
# raw tokens of the title-only extraction, stemmed, NOT lowercased)
# ---------------------------------------------------------------------------

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
        docs.mapInPandas(kernel, catalog.schema(catalog.TITLE_INDEX)).write.mode("overwrite").parquet(out)
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
