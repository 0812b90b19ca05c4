import os
import shutil

import pytest

from searchengine_spark import corpus
from searchengine_spark.session import get_spark

FIXDIR = "/tmp/se_spark_fixtures"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pages_path():
    os.makedirs(FIXDIR, exist_ok=True)
    path = os.path.join(FIXDIR, "pages_tiny.parquet")
    if not os.path.exists(path):
        corpus.write_pages_parquet(path, corpus.SCALES["tiny"])
    return path


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_pages_path):
    """Full index build (postings + title + pagerank when available)."""
    from searchengine_spark.catalog import INDEX_FORMAT
    from searchengine_spark.pagerank import STAGE_VERSION

    root = os.path.join(FIXDIR, "index_tiny")
    marker = os.path.join(root, "_TEST_BUILD_OK")
    # a cached fixture built by older index or PageRank code must not
    # be reused
    fmt = f"ok-v{INDEX_FORMAT}-pr{STAGE_VERSION}"
    if not (os.path.exists(marker) and open(marker).read() == fmt):
        shutil.rmtree(root, ignore_errors=True)
        from searchengine_spark.indexer import build_index

        build_index(spark, tiny_pages_path, root, n_chunks=2, n_buckets=4)
        try:
            from searchengine_spark.pagerank import build_pagerank_stage

            build_pagerank_stage(spark, tiny_pages_path, root, "build-1")
        except ImportError:
            pass
        open(marker, "w").write(fmt)
    return root


@pytest.fixture(scope="session")
def salted_index(spark, tiny_pages_path):
    """The tiny corpus at 16 postings per segment: its head terms carry
    many salts, so WAND splits their queries into many doc ranges. The
    same postings as ``tiny_index``, so answers must be equal."""
    from searchengine_spark.catalog import INDEX_FORMAT
    from searchengine_spark.indexer import build_index

    root = os.path.join(FIXDIR, "index_salted")
    marker = os.path.join(root, "_TEST_BUILD_OK")
    fmt = f"ok-v{INDEX_FORMAT}-t16"
    if not (os.path.exists(marker) and open(marker).read() == fmt):
        shutil.rmtree(root, ignore_errors=True)
        build_index(
            spark, tiny_pages_path, root, n_chunks=2, n_buckets=4, target_postings=16
        )
        open(marker, "w").write(fmt)
    return root


@pytest.fixture(scope="session")
def tiny_oracle(tiny_pages_path):
    import pyarrow.parquet as pq

    from searchengine_spark.oracle import build_oracle_index

    pages = pq.read_table(tiny_pages_path).to_pylist()
    return build_oracle_index(pages)
