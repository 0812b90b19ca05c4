"""Incremental segment merge / compaction (SURVEY.md §7.1's merge job).

The streaming ingest path (``streaming/ingest.py``) appends token files
under ``tokens/chunk=stream-*``; this job folds them into the compressed
posting segments WITHOUT rebuilding untouched buckets:

1. delta = token files not in the ``tokens_manifest`` the last postings
   build/merge recorded in ``_meta.json``;
2. affected buckets = the ``bucket=<b>`` partitions those delta files
   live in — every other bucket's segments are byte-identical to what a
   from-scratch rebuild over the new tokens would produce (no new
   postings, deterministic salting/encoding), so they are left alone;
3. per affected bucket: decode the existing segments back to
   token-shaped rows (term, doc_id, tf, positions, doc_len) with
   ``query.decode_segments``, union the delta rows, and hand them to
   ``indexer.encode_segments`` — the salt plan and segment writer the
   batch build uses — so merged buckets are byte-identical to a rebuild;
4. docstats and the ``_meta.json`` n_docs/avgdl are recomputed
   (``indexer.write_docstats``; pass ``pages_path`` for exact urls —
   e.g. the directory the stream ingested from plus the original corpus
   — otherwise doc_len is recovered from the delta tokens and streamed
   docs carry a NULL url until the next docstats batch run);
5. lineage: every group is recorded complete under the NEW tokens
   manifest fingerprint, so a later ``build_postings_stage`` resumes as
   a no-op instead of rebuilding the world.

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
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import catalog, checkpoint
from .indexer import (
    build_docstats_stage,
    build_title_index_stage,
    encode_segments,
    postings_fingerprint,
    read_stats,
    remove_salt_plan,
    salt_plan_path,
    write_docstats,
)
from .query import decode_segments


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

    Crash-resumable: each merged bucket records a lineage row keyed by
    (pre-merge manifest, delta) — a re-run after a mid-merge crash skips
    buckets that already absorbed this delta (re-unioning them would
    duplicate every streamed posting and double df/n_salts/idf). Each
    merged bucket's ``_merge_fp`` marker also lists the delta files
    (path, size) it has absorbed, so a recorded bucket that meets a
    delta grown since the crash merges only the files it lacks.
    ``kill_after`` aborts after that many buckets (resume tests)."""
    meta = catalog.read_meta(root)
    n_buckets = int(meta["n_buckets"])
    target = int(meta.get("target_postings", catalog.TARGET_POSTINGS))
    group_size = int(meta.get("group_size", catalog.BUCKET_GROUP_SIZE))
    tokens_root = catalog.path(root, catalog.TOKENS)
    postings_root = catalog.path(root, catalog.POSTINGS)

    # delta identity is (path, size) — mtime deliberately excluded HERE:
    # a replayed streaming micro-batch rewrites identical content with a
    # fresh mtime, and re-merging it would duplicate postings. Same-size
    # in-place content edits are instead caught by the mtime-bearing
    # stage fingerprints (catalog.tree_manifest) at the next full build.
    incorporated = {tuple(x[:2]) for x in meta.get("tokens_manifest", [])}
    # vacuumed identities stay excluded FOREVER (append-only list): a
    # crashed ingest restarted long after a vacuum replays its
    # micro-batch into the same-named chunk dir, and without this a
    # replayed already-merged file would re-enter as a fresh delta and
    # duplicate its postings.
    vacuumed = {tuple(x[:2]) for x in meta.get("tokens_vacuumed", [])}
    current = catalog.tree_manifest(tokens_root)
    current_ps = [(rel, size) for rel, size, *_ in current]
    missing = incorporated - set(current_ps) - vacuumed
    if missing:
        raise RuntimeError(
            f"{len(missing)} incorporated token files vanished — the index "
            "needs a full build_postings_stage rebuild, not a merge"
        )
    delta_ids = [
        (rel, size)
        for rel, size in current_ps
        if (rel, size) not in incorporated and (rel, size) not in vacuumed
    ]
    delta = [rel for rel, _size in delta_ids]
    if not delta:
        return {"delta_files": 0, "merged_buckets": [],
                "skipped_buckets": n_buckets}
    # stale-manifest guard: a build_postings_stage that completed (or
    # partially completed) over EXACTLY these tokens but died before its
    # final write_meta leaves meta.tokens_manifest behind the lineage.
    # Merging then would re-union postings the segments already contain
    # — duplicating df/idf with nothing downstream to notice.
    n_groups = max((n_buckets + group_size - 1) // group_size, 1)
    cur_fp = postings_fingerprint(
        root, n_buckets, target, group_size, manifest=current
    )
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
    merge_fp = checkpoint.fingerprint(
        stage="merge",
        base=hashlib.md5(
            json.dumps(sorted(incorporated)).encode()
        ).hexdigest(),
        delta=hashlib.md5(json.dumps(sorted(delta)).encode()).hexdigest(),
        v=1,
    )

    # 1. docstats + corpus scalars first — idf and norms of the merged segments
    # must reflect the post-append corpus. On a VACUUMED root the full
    # recompute is forbidden even when pages are at hand: it derives
    # doc_lens from the whole tokens tree, which the vacuum emptied
    # (doc_len=0 for every pre-vacuum doc, silently) — the incremental
    # delta-only upsert is exact for doc_len/avgdl (stream doc ids are
    # new url hashes, disjoint from the existing docstats rows).
    if pages_path is not None and not vacuumed:
        build_docstats_stage(spark, pages_path, root, build_id)
    elif pages_path is not None:
        _docstats_incremental(spark, pages_path, root, delta)
    else:
        _docstats_from_tokens(spark, root, delta)
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

    stray = [
        rel for rel in delta
        if not any(p.startswith("bucket=") for p in rel.split(os.sep))
    ]
    if stray:
        raise RuntimeError(
            f"delta token files outside a bucket= partition ({stray[:3]}…) — "
            "they would be silently skipped; fix the writer's layout"
        )
    affected = sorted(
        {
            int(part.split("=", 1)[1])
            for rel in delta
            for part in rel.split(os.sep)
            if part.startswith("bucket=")
        }
    )
    oob = [b for b in affected if b < 0 or b >= n_buckets]
    if oob:
        raise RuntimeError(
            f"delta token files under bucket ids {oob[:5]} but the index "
            f"has n_buckets={n_buckets} — the token writer used a "
            "mismatched n_buckets; re-ingest with the index's _meta.json "
            "value"
        )

    def scratch(b: int) -> tuple[str, str]:
        """(stage, aside) dirs of bucket ``b``'s merge — dot-prefixed so
        the readers' bucket=* globs and Spark's recursive listings can
        never pick up a leftover."""
        group_dir = os.path.join(postings_root, f"group={b // group_size}")
        return (
            os.path.join(group_dir, f".merge-tmp-b{b}"),
            os.path.join(group_dir, f".merge-old-b{b}"),
        )

    def merge_bucket(b: int) -> tuple[str, int, int]:
        bucket_dir = os.path.join(
            postings_root, f"group={b // group_size}", f"bucket={b}"
        )
        stage_dir, old_dir = scratch(b)
        marker = os.path.join(bucket_dir, "_merge_fp")
        # ---- crash recovery (no lineage row exists for this bucket
        # under the CURRENT merge_fp) ----
        if not os.path.exists(bucket_dir) and os.path.exists(old_dir):
            # died between the aside and the swap-in: restore, re-merge
            os.replace(old_dir, bucket_dir)
        marker_fp, absorbed = _read_marker(marker)
        if marker_fp is not None:
            recorded = checkpoint.completed_partitions(
                root, "merge", marker_fp
            )
            if b in recorded:
                # a completed merge — a previous one, or this delta's
                # before a crash and a grown delta: normal path over the
                # delta files it has not absorbed
                pass
            elif marker_fp == merge_fp:
                # died after the segment swap but before the lineage
                # record: the delta is already IN these segments —
                # re-merging would duplicate every streamed posting.
                # Record it only.
                return (bucket_dir, *catalog.parquet_rows_bytes(bucket_dir))
            else:
                # died in the same swap/record gap, but the delta has
                # since CHANGED (new stream token files arrived before
                # the resume → different merge_fp): these segments
                # already absorbed the crashed merge's delta, so
                # re-merging the full current delta into them would
                # duplicate those postings and inflate df/idf with
                # nothing downstream to notice. old_dir still holds the
                # pristine pre-merge segments in exactly this window —
                # restore it and merge from there.
                if os.path.exists(old_dir):
                    shutil.rmtree(bucket_dir)
                    os.replace(old_dir, bucket_dir)
                    _, absorbed = _read_marker(marker)
                else:
                    raise RuntimeError(
                        f"bucket={b} carries an unrecorded merge marker "
                        f"({marker_fp[:12]}…) that does not match the "
                        f"current delta ({merge_fp[:12]}…) and its "
                        "pre-merge aside is gone — the segments hold an "
                        "unknown delta subset; rebuild with "
                        "build_postings_stage instead of merging"
                    )
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(old_dir, ignore_errors=True)
        # ---- normal path ----
        # delta token files of THIS bucket (partition col comes from the
        # path, which we filter ourselves since we read files directly),
        # less those a crashed run of a smaller delta already merged in
        b_delta = [
            (rel, size) for rel, size in delta_ids
            if f"bucket={b}" in rel.split(os.sep)
        ]
        b_paths = [
            os.path.join(tokens_root, rel)
            for rel, size in b_delta if (rel, size) not in absorbed
        ]
        if not b_paths:
            # a bucket recorded before a crash whose files the grown
            # delta did not add to: nothing to merge, but its lineage row
            # is about to be recorded under THIS merge_fp, so the marker
            # must name it too — a marker left under the crashed run's
            # fingerprint matches no lineage row, and the next merge
            # would refuse the bucket as foreign
            catalog.write_atomic(marker, json.dumps(
                {"fp": merge_fp, "absorbed": sorted(b_delta)}).encode())
            return (bucket_dir, *catalog.parquet_rows_bytes(bucket_dir))
        # writer/meta n_buckets mismatch detector, evaluated on the rows
        # the segments job reads (no job of its own): a delta written
        # with a different bucket count would merge into buckets the
        # readers' term-hash pruning never looks in — silent invisibility
        mismatch = (
            f"delta tokens under bucket={b} contain terms hashing to a "
            f"different bucket at n_buckets={n_buckets} — the token "
            "writer used a mismatched n_buckets; re-ingest with the "
            "index's _meta.json value"
        )
        checked_term = F.when(
            F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
            == F.lit(b),
            F.col("term"),
        ).otherwise(F.raise_error(F.lit(mismatch)))
        new_tokens = spark.read.parquet(*b_paths).select(
            F.lit(b).cast("int").alias("bucket"),
            "doc_id", checked_term.alias("term"), "tf", "positions", "doc_len",
        )
        toks = new_tokens
        if os.path.exists(bucket_dir):
            old_segments = spark.read.option("basePath", postings_root).parquet(
                bucket_dir
            )
            toks = (
                decode_segments(old_segments, positions=True)
                .withColumn("bucket", F.lit(b).cast("int"))
                .unionByName(new_tokens)
            )
        # persist: the union feeds two jobs below (salt plan, then
        # segments), and each would otherwise re-decode every old blob
        # through the Python decode kernel (cheaper than the encode, but
        # not worth paying twice)
        toks = toks.persist()
        try:
            segments = encode_segments(
                spark, toks, target, avgdl, salt_plan_path(root, f"b{b}")
            )
            # stage + swap so a killed merge never leaves a half bucket;
            # the marker inside the staged data makes the swap+record pair
            # crash-recoverable (see recovery preamble above)
            segments.drop("bucket").write.mode("overwrite").parquet(stage_dir)
        finally:
            toks.unpersist()
        # the marker: which merge wrote these segments, and every delta
        # file (path, size) of this bucket they now hold
        with open(os.path.join(stage_dir, "_merge_fp"), "w") as fh:
            json.dump({"fp": merge_fp, "absorbed": sorted(b_delta)}, fh)
        if os.path.exists(bucket_dir):
            os.replace(bucket_dir, old_dir)  # atomic aside — never a gap
        os.replace(stage_dir, bucket_dir)  # atomic swap-in
        return (bucket_dir, *catalog.parquet_rows_bytes(bucket_dir))

    # buckets merge as concurrent Spark jobs; the pre-merge aside and the
    # salt plan are removed only once the bucket's lineage row exists —
    # the aside is what a resume after a crash in the swap/record gap
    # restores from
    checkpoint.run_partitioned_stage(
        root, build_id, "merge", affected, merge_fp, merge_bucket,
        kill_after=kill_after,
    )
    for b in affected:
        shutil.rmtree(scratch(b)[1], ignore_errors=True)
        remove_salt_plan(salt_plan_path(root, f"b{b}"))

    # 2. mark every group complete under the NEW manifest so a later
    # build_postings_stage resumes as a no-op (unaffected buckets are
    # identical to a rebuild by construction; affected ones were just
    # rebuilt from merged tokens)
    new_fp = cur_fp
    done = checkpoint.completed_partitions(root, "postings", new_fp)
    for g in range(n_groups):
        if g not in done:
            gdir = os.path.join(postings_root, f"group={g}")
            rows, nbytes = catalog.parquet_rows_bytes(gdir)
            checkpoint.record(
                root, build_id, "postings", g, new_fp, gdir, rows, nbytes, 0
            )
    catalog.write_meta(root, tokens_manifest=[list(x) for x in current])
    return {
        "delta_files": len(delta),
        "merged_buckets": affected,
        "skipped_buckets": n_buckets - len(affected),
    }


def _read_marker(marker: str) -> tuple[str | None, set]:
    """(merge fingerprint, absorbed (path, size) identities) of a
    bucket's ``_merge_fp`` marker; (None, empty) when there is none. Text
    that is not the JSON ``merge_tokens_stage`` writes reads as a bare
    fingerprint with nothing absorbed — it is trusted only when a
    lineage row records it, so an unknown marker stays foreign."""
    try:
        with open(marker) as fh:
            raw = fh.read()
    except FileNotFoundError:
        return None, set()
    try:
        parsed = json.loads(raw)
        return parsed["fp"], {tuple(x) for x in parsed["absorbed"]}
    except (ValueError, KeyError, TypeError):
        return raw, set()


def pending_delta_files(root: str) -> list[str]:
    """Token files (rel paths) not yet folded into the postings — the
    same (path, size) identity merge_tokens_stage uses."""
    return [rel for rel, _size in _pending_with_sizes(root)]


def _pending_with_sizes(root: str) -> list[tuple[str, int]]:
    meta = catalog.read_meta(root)
    incorporated = {tuple(x[:2]) for x in meta.get("tokens_manifest", [])}
    incorporated |= {tuple(x[:2]) for x in meta.get("tokens_vacuumed", [])}
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
    n_buckets = int(meta["n_buckets"])
    target = int(meta.get("target_postings", catalog.TARGET_POSTINGS))
    group_size = int(meta.get("group_size", catalog.BUCKET_GROUP_SIZE))
    n_groups = max((n_buckets + group_size - 1) // group_size, 1)
    tokens_root = catalog.path(root, catalog.TOKENS)

    pend = _pending_with_sizes(root)
    if pend:
        raise RuntimeError(
            f"{len(pend)} token files are pending (un-merged) — run "
            "merge_tokens_stage/maybe_merge_tiered before vacuuming"
        )
    manifest = [tuple(x[:2]) for x in meta.get("tokens_manifest", [])]
    if manifest:  # first run (not a resume): require a quiescent index
        cur_fp = postings_fingerprint(root, n_buckets, target, group_size)
        done = checkpoint.completed_partitions(root, "postings", cur_fp)
        if len(done) < n_groups:
            raise RuntimeError(
                f"postings lineage incomplete ({len(done)}/{n_groups} "
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
    new_fp = postings_fingerprint(root, n_buckets, target, group_size)
    done = checkpoint.completed_partitions(root, "postings", new_fp)
    postings_root = catalog.path(root, catalog.POSTINGS)
    for g in range(n_groups):
        if g not in done:
            gdir = os.path.join(postings_root, f"group={g}")
            rows, nbytes = catalog.parquet_rows_bytes(gdir)
            checkpoint.record(
                root, build_id, "postings", g, new_fp, gdir, rows, nbytes, 0
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


def _docstats_incremental(
    spark: SparkSession, pages_path: str, root: str, delta_rels: list[str]
) -> None:
    """EXACT docstats refresh for a vacuumed root: the full recompute
    (build_docstats_stage) is unavailable because pre-vacuum doc_lens
    only exist in the current docstats, not in tokens — so fold pages ⟕
    existing docstats ⟕ delta doc_lens. Ingest-filtered pages (no token
    rows anywhere) keep doc_len=0 exactly as the full recompute would
    assign, which is what keeps n_docs/avgdl — and therefore idf and
    BM25 norms — bit-identical to a from-scratch rebuild."""
    from .indexer import ingest

    tokens_root = catalog.path(root, catalog.TOKENS)
    paths = [os.path.join(tokens_root, r) for r in delta_rels]
    new_docs = (
        spark.read.parquet(*paths)
        .groupBy("doc_id")
        .agg(F.max("doc_len").alias("new_len"))
    )
    docs = ingest(spark, pages_path).select(
        F.xxhash64("url").alias("doc_id"), "url"
    )
    ds_path = catalog.path(root, catalog.DOCSTATS)
    # crash recovery: a previous swap may have died between its two
    # renames, leaving the live dir missing and the aside present
    catalog.restore_aside(ds_path)
    old = spark.read.parquet(ds_path).select(
        "doc_id", F.col("doc_len").alias("old_len")
    )
    write_docstats(spark, root, (
        docs.join(old, "doc_id", "left")
        .join(new_docs, "doc_id", "left")
        .select(
            "doc_id",
            "url",
            F.greatest(
                F.coalesce("old_len", F.lit(0)),
                F.coalesce("new_len", F.lit(0)),
            ).alias("doc_len"),
        )
    ))


def _docstats_from_tokens(
    spark: SparkSession, root: str, delta_rels: list[str]
) -> None:
    """Approximate docstats refresh when the appended pages are not
    available: new doc_lens from the delta token rows, NULL urls (the
    next batch ``build_docstats_stage`` run fills them)."""
    tokens_root = catalog.path(root, catalog.TOKENS)
    paths = [os.path.join(tokens_root, r) for r in delta_rels]
    new_docs = (
        spark.read.parquet(*paths)
        .groupBy("doc_id")
        .agg(F.max("doc_len").alias("doc_len"))
        .withColumn("url", F.lit(None).cast("string"))
        .select("doc_id", "url", "doc_len")
    )
    ds_path = catalog.path(root, catalog.DOCSTATS)
    catalog.restore_aside(ds_path)  # as in _docstats_incremental
    old = spark.read.parquet(ds_path)
    write_docstats(spark, root, old.unionByName(
        new_docs.join(old.select("doc_id"), "doc_id", "left_anti")
    ))

