"""One-order-of-magnitude scale datapoint (VERDICT r2 item 4).

Builds the index over an sf1 corpus (2M pages — 10x the per-round bench)
on local[$SPARK_GRAFT_CPUS], serves the reference query set via WAND
(each query split into as many doc ranges as its most-salted term has
salts), and reports the empirical evidence behind the plan-level scale
claims:

* build wall + docs/sec at 10x the bench corpus;
* WAND serving wall over the reference query set;
* the head term's salt plan: n_salts and the per-salt posting-count
  histogram (range salting must keep slices near-uniform);
* the largest single blob's bytes = the per-task decode bound.

Prints ONE JSON line; paste the numbers into BASELINE.md's scale-proof
section. Scratch lives on tmpfs like bench.py (virtio disk throttles).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = int(os.environ.get("SCALE_PROOF_PAGES", "2000000"))
TMP = os.environ.get("SPARK_GRAFT_BENCH_TMP", "/dev/shm/se_bench")


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.makedirs(TMP, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", os.path.join(TMP, "spark"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from searchengine_spark import catalog, corpus
    from searchengine_spark.indexer import build_index
    from searchengine_spark.session import get_spark
    from searchengine_spark.wand import score_wand

    pages = os.path.join(TMP, f"pages_{N_PAGES}.parquet")
    if not os.path.exists(pages + ".ok"):
        t0 = time.time()
        corpus.write_pages_parquet(pages, N_PAGES)
        open(pages + ".ok", "w").write("ok")
        print(f"# corpus gen {time.time() - t0:.0f}s", file=sys.stderr)

    root = os.path.join(TMP, "idx_sf1")
    spark = get_spark("scale-proof", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    # n_buckets/chunks scaled with the corpus (bench sf0.1 uses 8/2)
    n_buckets, n_chunks = 16, 4
    # untimed warm-up build, same reasoning as bench.py: cold JIT +
    # python-worker spin-up tax the first build of a session ~40%
    warm_pages = os.path.join(TMP, "pages_warm_sp.parquet")
    if not os.path.exists(warm_pages + ".ok"):
        corpus.write_pages_parquet(warm_pages, 2000)
        open(warm_pages + ".ok", "w").write("ok")
    shutil.rmtree(root, ignore_errors=True)
    build_index(spark, warm_pages, root, n_chunks=2, n_buckets=n_buckets)
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.time()
    build_index(spark, pages, root, n_chunks=n_chunks, n_buckets=n_buckets)
    build_s = time.time() - t0

    qs = corpus.reference_queries()
    t0 = time.time()
    n_topk = score_wand(spark, root, qs).count()
    wand_s = time.time() - t0

    # head-term salt histogram: biggest-df term (df = sum of its
    # segments' n_postings), then per-(salt) posting counts from its
    # segment rows
    from pyspark.sql import functions as F

    postings_root = catalog.path(root, catalog.POSTINGS)
    allsegs = spark.read.option("basePath", postings_root).parquet(postings_root)
    head = (
        allsegs.groupBy("term")
        .agg(F.sum("n_postings").alias("df"), F.max("n_salts").alias("n_salts"))
        .orderBy(F.desc("df"), "term")
        .first()
    )
    segs = (
        allsegs.filter(F.col("term") == head["term"])
        .select(
            "salt",
            F.octet_length("doc_blob").alias("db"),
            F.octet_length("tf_blob").alias("tb"),
            F.octet_length("pos_blob").alias("pb"),
        )
    )
    per_salt = segs.groupBy("salt").agg(
        F.sum("db").alias("doc_bytes"), F.count("*").alias("blobs")
    ).collect()
    salt_bytes = sorted(int(r["doc_bytes"]) for r in per_salt)
    # largest single blob anywhere = per-task decode bound
    max_blob = allsegs.agg(
        F.max(
            F.octet_length("doc_blob") + F.octet_length("tf_blob")
            + F.octet_length("pos_blob") + F.octet_length("dl_blob")
        ).alias("m")
    ).first()["m"]

    print(json.dumps({
        "n_pages": N_PAGES,
        "cpus": cpus,
        "n_buckets": n_buckets,
        "build_sec": round(build_s, 1),
        "docs_per_sec": round(N_PAGES / build_s, 1),
        "wand_refset_sec": round(wand_s, 2),
        "topk_rows": n_topk,
        "head_term": head["term"],
        "head_term_df": int(head["df"]),
        "head_term_n_salts": int(head["n_salts"]),
        "head_salt_doc_bytes_min": salt_bytes[0] if salt_bytes else 0,
        "head_salt_doc_bytes_max": salt_bytes[-1] if salt_bytes else 0,
        "max_single_blob_bytes": int(max_blob),
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
