"""Incremental segment merge / compaction (SURVEY.md §7.1's merge job).

The streaming ingest path (``streaming/ingest.py``) appends token files
under ``tokens/chunk=stream-*``; this job folds them into the compressed
posting segments WITHOUT rebuilding untouched buckets:

1. delta = token files in neither the ``tokens_manifest`` the last
   postings build/merge recorded in ``_meta.json`` nor its
   ``tokens_vacuumed`` list (``_pending_with_sizes``);
2. affected buckets = the ``bucket=<b>`` partitions those delta files
   live in — every other bucket's segments are byte-identical to what a
   from-scratch rebuild over the new tokens would produce (no new
   postings, deterministic salting/encoding), so they are left alone;
3. every refusal runs before the first write: delta files outside a
   ``bucket=`` dir or under an out-of-range bucket, an affected
   bucket's unreadable marker, and (inside the docstats upsert's read
   of the delta, the first job that reads it) terms hashing to another
   bucket than the one they were written under;
4. docstats and the ``_meta.json`` n_docs/avgdl are upserted
   (``_upsert_docstats``: doc_len = greatest(old, delta); pass
   ``pages_path`` for exact urls — e.g. the directory the stream
   ingested from plus the original corpus — otherwise streamed docs
   carry a NULL url until the next docstats batch run);
5. per affected bucket: decode the existing segments back to
   token-shaped rows (term, doc_id, tf, positions, doc_len) with
   ``query.decode_segments``, union the delta rows the bucket has not
   absorbed yet, and hand them to ``indexer.encode_segments`` — the
   salting and segment writer the batch build uses — so merged
   buckets are byte-identical to a rebuild;
6. lineage: every group is recorded complete under the NEW tokens
   manifest fingerprint, so a later ``build_postings_stage`` resumes as
   a no-op instead of rebuilding the world.

Crash recovery has one rule: a bucket's ``_merge_fp`` marker, written
into the staged bucket before it is swapped in, lists every delta file
(path, size) its segments hold, and a bucket merges exactly the delta
files its marker does not list.

Corpus avgdl drifts when documents are appended; untouched segments keep
their build-time ``avgdl_ref`` and the WAND reader inflates their block
maxima by max(1, avgdl/ref) — still true upper bounds, so query results
stay rank-identical to a from-scratch rebuild (asserted by
tests/test_merge.py) while only the affected buckets pay a rewrite.

Assumes appended documents are NEW doc_ids (upstream dedup — the same
assumption the reference's crawl frontier makes about visited URLs,
``jobs/Crawler.java:89``).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import catalog, checkpoint
from .indexer import (
    PostingsLayout,
    build_title_index_stage,
    encode_segments,
    ingest,
    postings_fingerprint,
    read_stats,
    rebase_postings_lineage,
    write_docstats,
)
from .query import decode_segments

MARKER = "_merge_fp"


def merge_tokens_stage(
    spark: SparkSession,
    root: str,
    build_id: str = "merge-1",
    pages_path: str | None = None,
    kill_after: int | None = None,
) -> dict:
    """Fold token-file deltas into the compressed postings. Returns
    {"delta_files": n, "merged_buckets": [...], "skipped_buckets": n}.
    No-op (fast) when the manifest already covers every token file.

    Crash-resumable: a re-run of the same delta skips the buckets it
    recorded, and any bucket merges only the delta files its marker does
    not list, so no resume (after a crash between a swap and its record,
    or over a delta grown since) re-unions a delta into segments that
    hold it — that would duplicate every streamed posting and double
    df/n_salts/idf. ``kill_after`` aborts after that many buckets
    (resume tests)."""
    meta = catalog.read_meta(root)
    layout = PostingsLayout.of(root)
    n_buckets = layout.n_buckets
    tokens_root = catalog.path(root, catalog.TOKENS)

    incorporated = {tuple(x[:2]) for x in meta.get("tokens_manifest", [])}
    vacuumed = {tuple(x[:2]) for x in meta.get("tokens_vacuumed", [])}
    current = catalog.tree_manifest(tokens_root)
    present = {(rel, size) for rel, size, *_ in current}
    missing = incorporated - present - vacuumed
    if missing:
        raise RuntimeError(
            f"{len(missing)} incorporated token files vanished — the index "
            "needs a full build_postings_stage rebuild, not a merge"
        )
    delta_ids = _pending_with_sizes(root, current)
    delta = [rel for rel, _size in delta_ids]
    if not delta:
        return {"delta_files": 0, "merged_buckets": [],
                "skipped_buckets": n_buckets}
    # stale-manifest guard: a build_postings_stage that completed (or
    # partially completed) over EXACTLY these tokens but died before its
    # final write_meta leaves meta.tokens_manifest behind the lineage.
    # Merging then would re-union postings the segments already contain
    # — duplicating df/idf with nothing downstream to notice.
    n_groups = layout.n_groups
    cur_fp = postings_fingerprint(root, *layout, manifest=current)
    done_cur = checkpoint.completed_partitions(root, "postings", cur_fp)
    if len(done_cur) >= n_groups:
        catalog.write_meta(root, tokens_manifest=[list(x) for x in current])
        return {"delta_files": 0, "merged_buckets": [],
                "skipped_buckets": n_buckets}
    if done_cur:
        raise RuntimeError(
            f"{len(done_cur)}/{n_groups} postings groups are already built "
            "over the current token set (a partial build_postings_stage "
            "run) — resume build_postings_stage instead of merging, or "
            "the rebuilt groups would absorb the delta twice"
        )

    # ---- checks: every refusal before the first write ----
    stray = [
        rel for rel in delta
        if not any(p.startswith("bucket=") for p in rel.split(os.sep))
    ]
    if stray:
        raise RuntimeError(
            f"delta token files outside a bucket= partition ({stray[:3]}…) — "
            "they would be silently skipped; fix the writer's layout"
        )
    bucket_of = {
        rel: int(part.split("=", 1)[1])
        for rel in delta
        for part in rel.split(os.sep)
        if part.startswith("bucket=")
    }
    affected = sorted(set(bucket_of.values()))
    oob = [b for b in affected if b < 0 or b >= n_buckets]
    if oob:
        raise RuntimeError(
            f"delta token files under bucket ids {oob[:5]} but the index "
            f"has n_buckets={n_buckets} — the token writer used a "
            "mismatched n_buckets; re-ingest with the index's _meta.json "
            "value"
        )

    known = present | incorporated | vacuumed
    absorbed: dict[int, set | None] = {}
    for b in affected:
        # a crash between replace_dir's two renames leaves the bucket
        # aside; put it back before its marker is read
        live = layout.bucket_dir(root, b)
        catalog.restore_aside(live)
        absorbed[b] = _read_marker(os.path.join(live, MARKER))
        if absorbed[b] is None or not absorbed[b] <= known:
            raise RuntimeError(
                f"bucket={b}'s {MARKER} marker is unreadable or names token "
                "files this index never had — its segments hold an unknown "
                "delta subset; rebuild with build_postings_stage instead of "
                "merging"
            )

    # ---- docstats + corpus scalars: idf and norms of the merged segments
    # must reflect the post-append corpus ----
    _upsert_docstats(
        spark, root, [os.path.join(tokens_root, rel) for rel in delta],
        n_buckets, pages_path,
    )
    if pages_path is not None:
        # title hits feed the BLENDED serving score — without this the
        # streamed docs rank with title_hit 0 and the merged index
        # diverges from a rebuild on the serving path (caught by
        # test_stream_to_serving_end_to_end). The stage is map-only
        # over pages text and fingerprinted on content, so a re-merge
        # with unchanged pages is a no-op. Titles derive from page
        # text, not tokens, so a pages-less merge necessarily leaves
        # them lagging (like docstats urls) until a pages-backed run.
        # PageRank is deliberately NOT recomputed here: a full
        # iterative graph job per micro-merge would dominate merge
        # cost, and production engines refresh ranks on their own
        # slower cadence — run build_pagerank_stage periodically;
        # until then new docs serve with rank 0.0 (a strict
        # under-rank, never wrong data).
        build_title_index_stage(spark, pages_path, root, build_id)
        # the optional anchor field lags identically when present —
        # refresh it from the same pages (content-fingerprinted, no-op
        # when unchanged); absent = the serving blend never reads it
        if os.path.exists(catalog.path(root, catalog.ANCHOR_INDEX)):
            from .anchors import build_anchor_stage

            build_anchor_stage(spark, pages_path, root, build_id)
    _, avgdl = read_stats(spark, root)

    def merge_bucket(b: int) -> tuple[str, int, int]:
        live = layout.bucket_dir(root, b)
        b_delta = sorted(x for x in delta_ids if bucket_of[x[0]] == b)
        todo = [rel for rel, size in b_delta if (rel, size) not in absorbed[b]]
        if not todo:
            # the segments already hold all of it (a crash after the
            # swap, before the lineage record)
            return (live, *catalog.parquet_rows_bytes(live))
        toks = catalog.read(
            spark, root, catalog.TOKENS,
            [os.path.join(tokens_root, rel) for rel in todo],
        ).select("bucket", "doc_id", "term", "tf", "positions", "doc_len")
        if os.path.exists(live):
            old_segments = catalog.read(spark, root, catalog.POSTINGS, [live])
            toks = (
                decode_segments(old_segments, positions=True)
                .withColumn("bucket", F.lit(b).cast("int"))
                .unionByName(toks)
            )
        # persist: the union feeds the salt plan and the segments, and
        # each would otherwise re-decode every old blob through the
        # Python decode kernel (cheaper than the encode, but not worth
        # paying twice)
        toks = toks.persist()

        def write(staged: str) -> None:
            segments = encode_segments(toks, layout.target_postings, avgdl)
            segments.drop("bucket").write.mode("overwrite").parquet(staged)
            # the marker rides inside the staged bucket, so the swap
            # makes the segments and the record of what they hold live
            # in one rename
            with open(os.path.join(staged, MARKER), "w") as fh:
                json.dump({"absorbed": b_delta}, fh)

        try:
            catalog.replace_dir(live, write)
        finally:
            toks.unpersist()
        return (live, *catalog.parquet_rows_bytes(live))

    merge_fp = checkpoint.fingerprint(
        stage="merge",
        base=hashlib.md5(
            json.dumps(sorted(incorporated)).encode()
        ).hexdigest(),
        delta=hashlib.md5(json.dumps(sorted(delta)).encode()).hexdigest(),
        v=1,
    )
    # buckets merge as concurrent Spark jobs
    checkpoint.run_partitioned_stage(
        root, build_id, "merge", affected, merge_fp, merge_bucket,
        kill_after=kill_after,
    )
    # every group is complete under the NEW manifest (unaffected buckets
    # are identical to a rebuild by construction; affected ones were
    # just rebuilt from merged tokens)
    rebase_postings_lineage(root, build_id, cur_fp, layout)
    catalog.write_meta(root, tokens_manifest=[list(x) for x in current])
    return {
        "delta_files": len(delta),
        "merged_buckets": affected,
        "skipped_buckets": n_buckets - len(affected),
    }


def _read_marker(marker: str) -> set | None:
    """The delta (path, size) identities a bucket's ``_merge_fp`` marker
    says its segments hold; empty when it has none (never merged), None
    when it does not parse."""
    try:
        with open(marker) as fh:
            return {tuple(x) for x in json.load(fh)["absorbed"]}
    except FileNotFoundError:
        return set()
    except (ValueError, KeyError, TypeError):
        return None


def _upsert_docstats(
    spark: SparkSession,
    root: str,
    delta_paths: list[str],
    n_buckets: int,
    pages_path: str | None,
) -> None:
    """Fold the delta's doc_lens into docstats: doc_len =
    greatest(old, max over the delta token rows), so a resume (also over
    a delta grown since) writes the same table. With ``pages_path`` the
    pages supply the rows and exact urls, and pages with no token rows
    keep doc_len=0 as the ``build_docstats_stage`` recompute assigns —
    n_docs/avgdl, so idf and BM25 norms, equal a rebuild's. Without
    pages, new docs get a NULL url until the next docstats batch run.
    Exact on a vacuumed root too (pre-vacuum doc_lens survive only in
    docstats).

    As the first job that reads the delta, it carries the writer/meta
    n_buckets check: a delta written with another bucket count would
    merge into buckets the readers' term-hash pruning never looks in.
    It raises inside the docstats write job, before the swap, so
    docstats and ``_meta.json`` stay as they were."""
    mismatch = F.concat(
        F.lit("delta tokens under bucket="), F.col("bucket").cast("string"),
        F.lit(f" contain terms hashing to a different bucket at n_buckets="
              f"{n_buckets} — the token writer used a mismatched "
              "n_buckets; re-ingest with the index's _meta.json value"),
    )
    checked_len = F.when(
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        == F.col("bucket"),
        F.col("doc_len"),
    ).otherwise(F.raise_error(mismatch))
    new = (
        catalog.read(spark, root, catalog.TOKENS, delta_paths)
        .groupBy("doc_id")
        .agg(F.max(checked_len).alias("new_len"))
    )
    ds_path = catalog.path(root, catalog.DOCSTATS)
    catalog.restore_aside(ds_path)
    old = catalog.read(spark, root, catalog.DOCSTATS).select(
        "doc_id", "url", F.col("doc_len").alias("old_len")
    )
    if pages_path is not None:
        docs = ingest(spark, pages_path).select(
            F.xxhash64("url").alias("doc_id"), "url"
        )
        rows = docs.join(old.drop("url"), "doc_id", "left").join(
            new, "doc_id", "left"
        )
    else:
        rows = old.join(new, "doc_id", "full_outer")
    write_docstats(spark, root, rows.select(
        "doc_id",
        "url",
        F.greatest(
            F.coalesce("old_len", F.lit(0)), F.coalesce("new_len", F.lit(0))
        ).alias("doc_len"),
    ))


def pending_delta_files(root: str) -> list[str]:
    """Token files (rel paths) not yet folded into the postings — the
    same (path, size) identity merge_tokens_stage uses."""
    return [rel for rel, _size in _pending_with_sizes(root)]


def _pending_with_sizes(
    root: str, current: list | None = None
) -> list[tuple[str, int]]:
    """(path, size) of every token file in neither ``tokens_manifest``
    nor ``tokens_vacuumed`` — the one definition of the pending delta.
    ``current`` is a ``catalog.tree_manifest`` listing of the tokens
    already taken (the merge's, so its delta and the manifest it
    records come from one listing).

    Delta identity is (path, size) — mtime deliberately excluded: a
    replayed streaming micro-batch rewrites identical content with a
    fresh mtime, and re-merging it would duplicate postings. Same-size
    in-place content edits are instead caught by the mtime-bearing
    stage fingerprints (catalog.tree_manifest) at the next full build.
    Vacuumed identities stay excluded FOREVER (append-only list): a
    crashed ingest restarted long after a vacuum replays its
    micro-batch into the same-named chunk dir, and a replayed
    already-merged file must not re-enter as a fresh delta."""
    meta = catalog.read_meta(root)
    incorporated = {tuple(x[:2]) for x in meta.get("tokens_manifest", [])}
    incorporated |= {tuple(x[:2]) for x in meta.get("tokens_vacuumed", [])}
    if current is None:
        current = catalog.tree_manifest(catalog.path(root, catalog.TOKENS))
    return [
        (rel, int(size))
        for rel, size, *_ in current
        if (rel, size) not in incorporated
    ]


def vacuum_tokens(root: str, build_id: str = "vacuum") -> dict:
    """Reclaim token files already folded into the postings segments.

    The tokens tree is the MERGE SUBSTRATE, not the query path (queries
    read postings/docstats/title_index only), but it is also
    ~40% of the index tree at bench scale — at 10^12 docs that is real
    money. After every live token file is incorporated and the postings
    lineage is complete, the files can go; what must SURVIVE is their
    (path, size) identity, because a crashed ingest restarted after the
    vacuum replays its micro-batch into the same-named chunk dir and the
    replayed files must stay excluded from the delta exactly as they
    were before the vacuum. Hence ``tokens_vacuumed`` in ``_meta.json``:
    append-only, consulted by both the pending-delta computation and the
    vanished-files guard.

    What a vacuumed root gives up: rebuild-from-tokens (``pages`` is the
    true source; a full rebuild needs them). What it keeps: serving,
    NEW stream deltas, tiered merges, fsck-green lineage (the postings
    groups are re-recorded under the post-vacuum tree fingerprint, the
    same rebase the merge tail performs).

    Idempotent and crash-resumable: meta is updated FIRST (a crash
    mid-delete leaves live files whose identities are already excluded),
    deletion second, lineage re-record last; a re-run completes any
    unfinished step. Refuses while deltas are pending (merge first) or
    while the postings lineage is incomplete (mid-build index)."""
    meta = catalog.read_meta(root)
    layout = PostingsLayout.of(root)
    tokens_root = catalog.path(root, catalog.TOKENS)

    pend = _pending_with_sizes(root)
    if pend:
        raise RuntimeError(
            f"{len(pend)} token files are pending (un-merged) — run "
            "merge_tokens_stage/maybe_merge_tiered before vacuuming"
        )
    manifest = [tuple(x[:2]) for x in meta.get("tokens_manifest", [])]
    if manifest:  # first run (not a resume): require a quiescent index
        cur_fp = postings_fingerprint(root, *layout)
        done = checkpoint.completed_partitions(root, "postings", cur_fp)
        if len(done) < layout.n_groups:
            raise RuntimeError(
                f"postings lineage incomplete ({len(done)}/{layout.n_groups} "
                "groups) — finish the build/merge before vacuuming"
            )
    vacuumed = {tuple(x[:2]) for x in meta.get("tokens_vacuumed", [])}
    live = [
        (rel, int(size))
        for rel, size, *_ in catalog.tree_manifest(tokens_root)
    ]
    # 1. meta first: every live identity becomes excluded before any
    # byte is deleted
    vacuumed |= set(live)
    catalog.write_meta(
        root,
        tokens_manifest=[],
        tokens_vacuumed=sorted([list(x) for x in vacuumed]),
    )
    # 2. delete
    reclaimed = 0
    for rel, size in live:
        p = os.path.join(tokens_root, rel)
        try:
            reclaimed += os.path.getsize(p)
            os.remove(p)
        except OSError:
            pass
    for dp, dirs, files in os.walk(tokens_root, topdown=False):
        # bookkeeping files (_SUCCESS, .crc) are not in the manifest;
        # drop them when they are all that's left so the dir can go
        if all(f.startswith(("_", ".")) for f in files):
            for f in files:
                try:
                    os.remove(os.path.join(dp, f))
                except OSError:
                    pass
        if dp != tokens_root:
            try:
                os.rmdir(dp)
            except OSError:
                pass  # still holds live (pendingless, future) content
    # 3. re-record the postings groups under the post-vacuum tree
    # fingerprint (fsck freshness + build_postings_stage resume), the
    # same rebase merge_tokens_stage's tail performs
    rebase_postings_lineage(
        root, build_id, postings_fingerprint(root, *layout), layout
    )
    return {"files_removed": len(live), "bytes_reclaimed": reclaimed,
            "vacuumed_total": len(vacuumed)}


def _tree_bytes(path: str) -> int:
    total = 0
    for dp, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(dp, f))
                except OSError:
                    pass
    return total


def maybe_merge_tiered(
    spark: SparkSession,
    root: str,
    ratio: float = 0.25,
    min_delta_bytes: int = 64 << 20,
    max_delta_files: int = 256,
    build_id: str = "merge-tiered",
    pages_path: str | None = None,
) -> dict:
    """Size-tiered compaction policy — the trigger a NEVER-ENDING
    streaming ingest should call after every micro-batch.

    Merge fires when EITHER
    * ``delta_bytes >= max(min_delta_bytes, ratio * segment_bytes)`` —
      the LSM size-tier rule: each merge rewrites the affected buckets,
      so requiring the delta to be a fixed FRACTION of the segment bytes
      bounds per-byte write amplification at ~1/ratio however long the
      ingest runs (segment bytes grow => the threshold grows with them);
      ``min_delta_bytes`` stops thrashing while segments are still tiny;
    * ``delta_files >= max_delta_files`` — a freshness/file-count
      backstop so metadata (manifest diffing, query-side listing) stays
      bounded even when batches are small.

    Below both thresholds it is a metadata-only no-op, so calling it
    every batch is safe and the segment-file population stays bounded:
    tokens accumulate only up to the threshold, then fold into the
    per-bucket segments (whose count is fixed by n_buckets/group layout).
    """
    pend = _pending_with_sizes(root)
    d_bytes = sum(s for _r, s in pend)
    seg_bytes = _tree_bytes(catalog.path(root, catalog.POSTINGS))
    threshold = max(int(min_delta_bytes), int(ratio * seg_bytes))
    if not pend or (d_bytes < threshold and len(pend) < max_delta_files):
        return {"delta_files": len(pend), "delta_bytes": d_bytes,
                "threshold_bytes": threshold, "merged_buckets": [],
                "skipped_buckets": None, "deferred": True}
    report = merge_tokens_stage(spark, root, build_id, pages_path=pages_path)
    report.update(deferred=False, delta_bytes=d_bytes,
                  threshold_bytes=threshold)
    return report
