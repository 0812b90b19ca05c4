"""Measured LSM datapoint: unattended streaming ingest + size-tiered
compaction at bench scale.

The pytest drill (tests/test_merge.py::test_tiered_compaction_unattended_
ingest) proves the policy CORRECT at fixture scale; this measures it at
the bench corpus size so BASELINE.md can quote real numbers for the
claim that a never-ending ingest keeps both write amplification and the
pending-file population bounded:

* base build: 100k pages -> index (bench sf0.1 settings: 8 buckets,
  2 chunks)
* 8 arrival batches of 6,250 pages each, every batch:
  stream_tokenize (availableNow) -> maybe_merge_tiered(ratio=0.10)
* report per batch: ingest wall, merge deferred-or-fired, delta/segment
  bytes, pending file count
* end: drain the deferred tail, WAND refset latency before vs after the
  grown corpus, doc count delta

Run: python tools/lsm_proof.py   (~5 min, tmpfs scratch)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TMP = os.environ.get("SPARK_GRAFT_SCALE_TMP", "/dev/shm/se_lsm")

N_TOTAL = 150_000
N_STREAM_BATCHES = 8
N_PAGES_PER_BATCH = 6_250  # 8 batches = 50k pages streamed onto 100k
N_BUCKETS, N_CHUNKS = 8, 2  # bench sf0.1 build settings


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.makedirs(TMP, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", os.path.join(TMP, "spark"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from searchengine_spark import catalog, corpus
    from searchengine_spark.indexer import build_index
    from searchengine_spark.merge import (
        _pending_with_sizes,
        _tree_bytes,
        maybe_merge_tiered,
    )
    from searchengine_spark.session import get_spark
    from searchengine_spark.streaming.ingest import stream_tokenize
    from searchengine_spark.wand import score_wand

    full_dir = os.path.join(TMP, f"pages_{N_TOTAL}")
    if not os.path.exists(full_dir + ".ok"):
        t0 = time.time()
        # 24 part files of 6,250 pages: 16 seed the base build, 8 are
        # the arrival batches (content depends only on page id, so the
        # split is just "the corpus arrived over time")
        corpus.write_pages_parquet(full_dir, N_TOTAL, n_files=24)
        open(full_dir + ".ok", "w").write("ok")
        print(f"# corpus gen {time.time() - t0:.0f}s", file=sys.stderr)
    files = sorted(f for f in os.listdir(full_dir) if f.endswith(".parquet"))
    assert len(files) == 24, files

    base_dir = os.path.join(TMP, "pages_base")
    shutil.rmtree(base_dir, ignore_errors=True)
    os.makedirs(base_dir)
    for f in files[: -N_STREAM_BATCHES]:
        os.link(os.path.join(full_dir, f), os.path.join(base_dir, f))

    spark = get_spark("lsm-proof", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    root = os.path.join(TMP, "index")

    # untimed warm-up build (cold JIT + python-worker spin-up tax, same
    # reasoning as bench.py/scale_proof.py)
    warm_pages = os.path.join(TMP, "pages_warm.parquet")
    if not os.path.exists(warm_pages + ".ok"):
        corpus.write_pages_parquet(warm_pages, 2000)
        open(warm_pages + ".ok", "w").write("ok")
    shutil.rmtree(root, ignore_errors=True)
    build_index(spark, warm_pages, root, n_chunks=2, n_buckets=N_BUCKETS)

    shutil.rmtree(root, ignore_errors=True)
    t0 = time.time()
    build_index(spark, base_dir, root, n_chunks=N_CHUNKS, n_buckets=N_BUCKETS)
    base_s = time.time() - t0
    n_base_pages = N_TOTAL - N_STREAM_BATCHES * N_PAGES_PER_BATCH
    print(f"base build: {n_base_pages} pages in {base_s:.1f}s "
          f"({n_base_pages / base_s:.0f} docs/s)")

    qs = corpus.reference_queries()
    t0 = time.time()
    n_rows_before = score_wand(spark, root, qs).count()
    wand_before_s = time.time() - t0
    print(f"WAND refset before ingest: {wand_before_s:.1f}s "
          f"({n_rows_before} rows)")

    merged_bytes = 0  # segment bytes present at each fired merge
    delta_merged = 0
    for i, f in enumerate(files[-N_STREAM_BATCHES:]):
        sdir = os.path.join(TMP, f"stream{i}")
        shutil.rmtree(sdir, ignore_errors=True)
        os.makedirs(sdir)
        os.link(os.path.join(full_dir, f), os.path.join(sdir, f))
        t0 = time.time()
        stream_tokenize(
            spark, sdir, catalog.path(root, catalog.TOKENS),
            os.path.join(TMP, f"ckpt{i}"), n_buckets=N_BUCKETS,
        ).awaitTermination()
        ingest_s = time.time() - t0
        t0 = time.time()
        rep = maybe_merge_tiered(
            spark, root, ratio=0.10, min_delta_bytes=1 << 20,
            pages_path=full_dir,
        )
        merge_s = time.time() - t0
        pend = _pending_with_sizes(root)
        seg_b = _tree_bytes(catalog.path(root, catalog.POSTINGS))
        if not rep["deferred"]:
            merged_bytes += seg_b
            delta_merged += rep["delta_bytes"]
        print(f"batch {i}: ingest {N_PAGES_PER_BATCH} pages {ingest_s:.1f}s "
              f"({N_PAGES_PER_BATCH / ingest_s:.0f} docs/s), "
              f"{'MERGED' if not rep['deferred'] else 'deferred'} "
              f"{merge_s:.1f}s, delta {rep['delta_bytes'] >> 20} MiB "
              f"vs threshold {rep['threshold_bytes'] >> 20} MiB, "
              f"pending files {len(pend)}, segments {seg_b >> 20} MiB")

    t0 = time.time()
    rep = maybe_merge_tiered(spark, root, ratio=0.0, min_delta_bytes=1,
                             pages_path=full_dir)
    drain_s = time.time() - t0
    print(f"final freshness drain (not steady-state policy): "
          f"{'MERGED' if not rep['deferred'] else 'no-op'} {drain_s:.1f}s")

    t0 = time.time()
    n_rows_after = score_wand(spark, root, qs).count()
    wand_after_s = time.time() - t0
    amp = merged_bytes / max(delta_merged, 1)  # policy-fired merges only
    print(f"WAND refset after +{N_STREAM_BATCHES * N_PAGES_PER_BATCH} "
          f"pages: {wand_after_s:.1f}s ({n_rows_after} rows)")
    print(f"write amplification at policy-fired merges: {amp:.1f}x "
          f"(segment bytes rewritten / delta bytes folded; the size tier "
          f"bounds it near 1/ratio = {1 / 0.10:.0f}x however long the "
          f"ingest runs)")

    from searchengine_spark.merge import vacuum_tokens

    tok_b = _tree_bytes(catalog.path(root, catalog.TOKENS))
    seg_b = _tree_bytes(catalog.path(root, catalog.POSTINGS))
    t0 = time.time()
    vrep = vacuum_tokens(root)
    t0 = time.time() - t0
    n_after = score_wand(spark, root, qs).count()
    assert n_after == n_rows_after, "vacuum changed serving results"
    print(f"vacuum: reclaimed {vrep['bytes_reclaimed'] >> 20} MiB of "
          f"merged token substrate in {t0:.1f}s "
          f"({tok_b >> 20} MiB tokens vs {seg_b >> 20} MiB postings — "
          f"{100 * tok_b // max(tok_b + seg_b, 1)}% of the index tree); "
          f"serving unchanged")
    spark.stop()


if __name__ == "__main__":
    main()
