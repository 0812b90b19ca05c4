"""Index integrity checker (fsck) — verifies a built index's physical
and logical invariants without trusting any of its metadata.

A 100 TB index accumulates entropy: killed writers, manual surgery,
partial merges, bit rot. The reference has no equivalent (its KVS trusts
every row; corruption surfaces as wrong query results) — this job makes
the invariants the query path RELIES on checkable ahead of time:

Per segment row (distributed, one decode pass over the blobs):
  * ``n_postings`` equals the decoded length of doc/tf/dl blobs, and
    pos_blob (layout ``[n, delta1..deltan]`` per posting) stores n = tf
    for every posting (``compress.decode_segment`` checks both);
  * doc_ids strictly increasing (delta decode yields a sorted list);
  * block metadata arrays all ceil(n/BLOCK) long, ``block_last``
    matches the decoded block boundaries, ``max_norm`` equals
    max(block_max_norm), byte offsets strictly increasing and within
    the blob;
  * ``0 <= salt < n_salts``.

Per (bucket, term) across segments (the range-salting contract that
lazy WAND and merge depend on):
  * every salt 0..n_salts-1 present exactly once, one consistent
    n_salts;
  * doc-id ranges of consecutive salts DISJOINT and ordered
    (max_doc(salt) < min_doc(salt+1)).

Catalog consistency:
  * every visible top-level entry of the root is an index table or
    ``_meta.json`` — anything else (e.g. the ``dictionary/`` and
    ``stats/`` dirs a format-4 root keeps after an in-place rebuild) is
    dead weight nothing reads, reported as a warning. A ``.swap-old`` /
    ``.swap-tmp`` entry left by a crashed ``catalog.replace_dir`` is
    reported as its own warning: the aside may be the table's only copy;
  * bucket partition dirs are within [0, n_buckets) and live in their
    correct group dir;
  * ``_meta.json`` n_docs/avgdl match docstats (n_docs = count, avgdl =
    mean);
  * postings lineage complete for the current tokens manifest (a stale
    manifest means a merge/rebuild is pending — reported as a warning).

``fsck(spark, root)`` returns a DataFrame of findings
(severity, check, bucket, term, salt, detail); an empty result means
the index is healthy. ``jobs/fsck.py`` is the spark-submit CLI.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import catalog, checkpoint
from .compress import BLOCK, PositionCountError, decode_segment
from .indexer import PostingsLayout, postings_fingerprint, read_stats

FINDINGS_SCHEMA = T.StructType(
    [
        T.StructField("severity", T.StringType()),
        T.StructField("check", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("detail", T.StringType()),
    ]
)

_SEG_COLS = [
    "bucket", "term", "salt", "n_salts", "n_postings",
    "doc_blob", "tf_blob", "dl_blob", "pos_blob",
    "block_last", "block_max_norm", "doc_boff", "tf_boff", "dl_boff",
]


def _segment_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode every blob of every segment row and emit one finding row
    per violated invariant plus one 'rangestat' info row per segment
    (min/max doc id — consumed by the salt-range check, then dropped)."""
    for pdf in batches:
        out: list[tuple] = []
        for row in pdf.itertuples(index=False):
            b, term, salt = int(row.bucket), str(row.term), int(row.salt)

            def bad(check: str, detail: str) -> None:
                out.append(("error", check, b, term, salt, detail))

            blobs = (bytes(row.doc_blob), bytes(row.tf_blob), bytes(row.dl_blob))
            pos_err = None
            try:
                try:
                    docs, tfs, dls, _, _ = decode_segment(*blobs, bytes(row.pos_blob))
                except PositionCountError as e:
                    pos_err = str(e)
                    docs, tfs, dls, _, _ = decode_segment(*blobs)
            except Exception as e:  # truncated/garbage blob
                bad("blob_decode", repr(e))
                continue
            n = int(row.n_postings)
            if not (len(docs) == len(tfs) == len(dls) == n):
                bad("n_postings", f"decoded {len(docs)}/{len(tfs)}/{len(dls)} vs {n}")
                continue
            if n == 0:
                bad("empty_segment", "segment with zero postings")
                continue
            if n > 1 and not (docs[1:] > docs[:-1]).all():
                bad("doc_order", "doc_ids not strictly increasing")
            if pos_err is not None:
                bad("pos_blob", pos_err)
            n_blocks = (n + BLOCK - 1) // BLOCK
            bl = np.asarray(row.block_last, dtype=np.int64)
            bm = np.asarray(row.block_max_norm, dtype=np.float32)
            for name, arr in (("block_last", bl), ("block_max_norm", bm),
                              ("doc_boff", np.asarray(row.doc_boff)),
                              ("tf_boff", np.asarray(row.tf_boff)),
                              ("dl_boff", np.asarray(row.dl_boff))):
                if len(arr) != n_blocks:
                    bad("block_meta_len", f"{name} has {len(arr)} entries, want {n_blocks}")
            if len(bl) == n_blocks:
                want = docs[np.minimum(np.arange(1, n_blocks + 1) * BLOCK, n) - 1]
                if not (bl == want).all():
                    bad("block_last", "stored block_last != decoded block boundaries")
            for name, boff, blob in (
                ("doc_boff", np.asarray(row.doc_boff, dtype=np.int64), row.doc_blob),
                ("tf_boff", np.asarray(row.tf_boff, dtype=np.int64), row.tf_blob),
                ("dl_boff", np.asarray(row.dl_boff, dtype=np.int64), row.dl_blob),
            ):
                if len(boff) and (
                    boff[0] != 0
                    or (len(boff) > 1 and not (np.diff(boff) > 0).all())
                    or boff[-1] >= max(len(blob), 1)
                ):
                    bad("block_off", f"{name} not strictly increasing within blob")
            if not (0 <= salt < int(row.n_salts)):
                bad("salt_range", f"salt {salt} outside [0, {int(row.n_salts)})")
            # info row for the cross-segment salt-range check
            out.append((
                "info", "rangestat", b, term, salt,
                f"{int(docs[0])}:{int(docs[-1])}:{int(row.n_salts)}",
            ))
        yield pd.DataFrame(out, columns=[f.name for f in FINDINGS_SCHEMA.fields])


def _salt_range_findings(rangestats: DataFrame) -> DataFrame:
    """Cross-segment checks on the per-segment (min,max,n_salts) info
    rows: full salt coverage, consistent n_salts, disjoint ordered
    doc-id ranges (the range-salting contract)."""
    parts = F.split("detail", ":")
    seg = rangestats.select(
        "bucket", "term", "salt",
        parts.getItem(0).cast("long").alias("min_doc"),
        parts.getItem(1).cast("long").alias("max_doc"),
        parts.getItem(2).cast("int").alias("n_salts"),
    )
    by_term = seg.groupBy("bucket", "term").agg(
        F.count("*").alias("n_segs"),
        F.countDistinct("salt").alias("n_distinct_salts"),
        F.countDistinct("n_salts").alias("n_salts_variants"),
        F.max("n_salts").alias("n_salts"),
        # ranges ordered+disjoint <=> sorting by salt equals sorting by
        # min_doc AND each salt's max < next salt's min
        F.sort_array(F.collect_list(F.struct("salt", "min_doc", "max_doc"))).alias("segs"),
    )
    overlap = F.exists(
        F.zip_with(
            F.slice("segs", 1, F.size("segs") - 1),
            F.slice("segs", 2, F.size("segs") - 1),
            lambda a, b: a["max_doc"] >= b["min_doc"],
        ),
        lambda x: x,
    )
    dup = F.col("n_segs") != F.col("n_distinct_salts")
    gap = F.col("n_distinct_salts") != F.col("n_salts")
    mixed = F.col("n_salts_variants") > 1
    bad = by_term.filter(
        dup | gap | mixed | (F.when(F.size("segs") > 1, overlap).otherwise(F.lit(False)))
    )
    return bad.select(
        F.lit("error").alias("severity"),
        F.lit("salt_contract").alias("check"),
        "bucket",
        "term",
        F.lit(None).cast("int").alias("salt"),
        F.concat(
            F.lit("segs="), F.col("n_segs").cast("string"),
            F.lit(" distinct_salts="), F.col("n_distinct_salts").cast("string"),
            F.lit(" n_salts="), F.col("n_salts").cast("string"),
            F.lit(" variants="), F.col("n_salts_variants").cast("string"),
            F.lit(" overlap="),
            F.when(F.size("segs") > 1, overlap).otherwise(F.lit(False)).cast("string"),
        ).alias("detail"),
    )


def _finding(spark, severity, check, detail, bucket=None, term=None, salt=None):
    return catalog.local_df(
        spark, [(severity, check, bucket, term, salt, detail)], FINDINGS_SCHEMA
    )


def fsck(
    spark: SparkSession, root: str, check_lineage: bool = True
) -> DataFrame:
    """Verify the index at ``root``; returns the findings DataFrame
    (empty = healthy). Blob checks run distributed; catalog checks are
    driver-side over row-count-sized aggregates only."""
    findings = catalog.local_df(spark, [], FINDINGS_SCHEMA)
    meta = catalog.read_meta(root)
    postings_root = catalog.path(root, catalog.POSTINGS)
    if "n_buckets" not in meta:
        return findings.unionByName(
            _finding(spark, "error", "meta", "_meta.json missing n_buckets")
        )
    layout = PostingsLayout.of(root)
    n_buckets = layout.n_buckets

    # stale root entries: hidden names (".x", "_x") are bookkeeping,
    # skipped as Spark's readers skip them. A replace_dir crash leftover
    # is not stale: its .swap-old aside may be the only copy of the
    # table, which restore_aside puts back
    for name in catalog.list_entries(root):
        if name in (*catalog.TABLES, catalog.META) or name[0] in "._":
            continue
        if name.endswith((".swap-old", ".swap-tmp")):
            findings = findings.unionByName(_finding(
                spark, "warning", "swap_leftover",
                f"{name!r} at the index root is left by a crashed table "
                "swap (catalog.replace_dir) — while the table itself is "
                "missing it is the only copy, which the next merge "
                "restores (catalog.restore_aside); do not delete it"))
            continue
        findings = findings.unionByName(_finding(
            spark, "warning", "stale_entry",
            f"{name!r} at the index root is not an index table — "
            "nothing reads it; delete it"))

    # layout: bucket dirs within range and in the right group
    for d in catalog.glob_dirs(os.path.join(postings_root, "group=*", "bucket=*")):
        b = int(os.path.basename(d).split("=", 1)[1])
        if not 0 <= b < n_buckets:
            findings = findings.unionByName(_finding(
                spark, "error", "layout", f"bucket dir {b} outside [0,{n_buckets})",
                bucket=b))
        elif d != layout.bucket_dir(root, b):
            findings = findings.unionByName(_finding(
                spark, "error", "layout",
                f"bucket dir {d} belongs at {layout.bucket_dir(root, b)}",
                bucket=b))

    # segment blob invariants (distributed decode)
    segments = catalog.read(spark, root, catalog.POSTINGS)
    seg_findings = segments.select(*_SEG_COLS).mapInPandas(
        _segment_kernel, FINDINGS_SCHEMA
    )
    seg_findings.cache()
    range_findings = _salt_range_findings(
        seg_findings.filter(F.col("check") == "rangestat")
    )
    findings = findings.unionByName(
        seg_findings.filter(F.col("check") != "rangestat")
    ).unionByName(range_findings)

    # _meta.json corpus scalars vs docstats
    try:
        n_docs, avgdl = read_stats(spark, root)
        agg = (
            catalog.read(spark, root, catalog.DOCSTATS)
            .agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"))
            .collect()[0]
        )
        if n_docs != int(agg["n"]) or not math.isclose(
            avgdl, float(agg["avgdl"]), rel_tol=1e-12
        ):
            findings = findings.unionByName(_finding(
                spark, "error", "stats",
                f"_meta.json ({n_docs}, {avgdl}) != docstats "
                f"({agg['n']}, {agg['avgdl']})"))
    except Exception as e:
        findings = findings.unionByName(
            _finding(spark, "error", "stats", f"stats/docstats unreadable: {e!r}")
        )

    # serving-side stores (both optional). Docstore: doc_ids unique, no
    # orphans vs docstats; docs missing from the store are a WARNING
    # (NULL-url merges legitimately lag until refresh_docstore).
    if catalog.exists(root, catalog.DOCSTORE):
        try:
            store_ids = catalog.read(spark, root, catalog.DOCSTORE).select("doc_id")
            doc_ids = catalog.read(spark, root, catalog.DOCSTATS).select("doc_id")
            dup = (
                store_ids.groupBy("doc_id").agg(F.count("*").alias("n"))
                .filter(F.col("n") > 1).count()
            )
            orphan = store_ids.join(doc_ids, "doc_id", "left_anti").count()
            lagging = doc_ids.join(
                store_ids, "doc_id", "left_anti"
            ).count()
            if dup:
                findings = findings.unionByName(_finding(
                    spark, "error", "docstore",
                    f"{dup} doc_ids have multiple docstore rows"))
            if orphan:
                findings = findings.unionByName(_finding(
                    spark, "error", "docstore",
                    f"{orphan} docstore docs absent from docstats"))
            if lagging:
                findings = findings.unionByName(_finding(
                    spark, "warning", "docstore",
                    f"{lagging} docstats docs missing from the "
                    "docstore — run serving.refresh_docstore"))
        except Exception as e:
            findings = findings.unionByName(_finding(
                spark, "error", "docstore", f"docstore unreadable: {e!r}"))
    # anchor index: (doc_id, term) unique (targets MAY be out-of-corpus
    # urls — that is legal, so no orphan check)
    if catalog.exists(root, catalog.ANCHOR_INDEX):
        try:
            dup = (
                catalog.read(spark, root, catalog.ANCHOR_INDEX)
                .groupBy("doc_id", "term").agg(F.count("*").alias("n"))
                .filter(F.col("n") > 1).count()
            )
            if dup:
                findings = findings.unionByName(_finding(
                    spark, "error", "anchor_index",
                    f"{dup} (doc_id, term) pairs duplicated"))
        except Exception as e:
            findings = findings.unionByName(_finding(
                spark, "error", "anchor_index",
                f"anchor_index unreadable: {e!r}"))

    # lineage freshness: postings complete under the CURRENT tokens manifest
    if check_lineage:
        fp = postings_fingerprint(root, *layout)
        done = checkpoint.completed_partitions(root, "postings", fp)
        missing = sorted(set(range(layout.n_groups)) - done)
        if missing:
            findings = findings.unionByName(_finding(
                spark, "warning", "lineage",
                f"groups {missing} not complete under the current tokens "
                "manifest — a merge or rebuild is pending"))

    return findings
