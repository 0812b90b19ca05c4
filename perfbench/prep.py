"""Once-per-source-tree preparation, cached under a key that hashes the
``searchengine_spark/`` sources, this file, ``inputs.py`` and the corpus
and build parameters: the serving corpus and its index, the query
pool with oracle answers, and the per-page oracle facts of the
build_ingest universe. An index built by one version of the engine is
never served to another.

Run as a script (``python3 perfbench/prep.py``) it builds the cache if
it is missing; :mod:`run` calls it that way, untimed, so its Spark
session never shares a JVM with a measured run.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

SERVE_PAGES = 4_000
UNIVERSE = 110  # build_ingest: base + delta page ids
DELTA = 10


def cache_key(checkout: str) -> str:
    from engine import BUILD

    sources = [os.path.join(HERE, "inputs.py"), os.path.join(HERE, "prep.py")]
    for dirpath, dirs, files in os.walk(os.path.join(checkout, "searchengine_spark")):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        sources += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    h = hashlib.sha256()
    for p in sorted(sources):
        h.update(os.path.relpath(p, checkout).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    h.update(json.dumps({"serve_pages": SERVE_PAGES, "universe": UNIVERSE,
                         "delta": DELTA, "build": BUILD}, sort_keys=True).encode())
    return h.hexdigest()[:16]


def cache_dir(checkout: str, work: str) -> str:
    return os.path.join(work, "cache", cache_key(checkout))


def ready(cache: str) -> bool:
    return os.path.exists(os.path.join(cache, "READY"))


def write_pages(path: str, pages: list[dict], n_files: int = 4) -> None:
    """Write rendered pages as parquet part files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark import corpus

    os.makedirs(path, exist_ok=True)
    per = -(-len(pages) // n_files)
    for f in range(n_files):
        rows = pages[f * per:(f + 1) * per]
        if not rows:
            continue
        cols = {k: [r[k] for r in rows] for k in corpus.PAGES_SCHEMA.names}
        pq.write_table(pa.Table.from_pydict(cols, schema=corpus.PAGES_SCHEMA),
                       os.path.join(path, f"part-{f:05d}.parquet"), compression="zstd")


def prepare(checkout: str, work: str) -> str:
    import engine
    import inputs
    from searchengine_spark import corpus, oracle
    from spans import Tracer

    cache = cache_dir(checkout, work)
    if ready(cache):
        return cache
    # other keys belong to other source trees: never served here
    shutil.rmtree(os.path.join(work, "cache"), ignore_errors=True)
    os.makedirs(cache)
    t0 = time.time()

    pages_dir = os.path.join(cache, "serve_pages")
    pages = [corpus.render_page(i, SERVE_PAGES) for i in range(SERVE_PAGES)]
    write_pages(pages_dir, pages)
    idx = oracle.build_oracle_index(pages, corpus.expected_edges(SERVE_PAGES))
    oracle.oracle_pagerank(idx, threshold=engine.BUILD["pagerank_threshold"])
    pool = inputs.make_pool(pages, idx)
    with open(os.path.join(cache, "pool.json"), "w") as f:
        json.dump({"pool": pool,
                   "url_to_id": {u: d for d, u in idx.doc_url.items()}}, f)
    del pages, idx

    uni = [corpus.render_page(i, UNIVERSE) for i in range(UNIVERSE)]
    with open(os.path.join(cache, "universe.pkl"), "wb") as f:
        pickle.dump(inputs.page_records(uni), f)

    spark = engine.spark_session(work)
    try:
        engine.build(spark, Tracer(), pages_dir, os.path.join(cache, "serve_root"),
                     engine.BUILD)
    finally:
        engine.stop(spark)
    with open(os.path.join(cache, "READY"), "w") as f:
        f.write(f"{time.time() - t0:.1f}\n")
    return cache


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    import engine

    checkout = os.getcwd()
    work = os.path.join(checkout, ".perfbench")
    engine.setup_env(checkout, work)
    print(prepare(checkout, work))
