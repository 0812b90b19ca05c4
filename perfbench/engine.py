"""The engine as the benchmark drives it: Spark session, the full build,
the ingest round and process-level measurements.

Every call into ``searchengine_spark`` goes through a public function,
wrapped in a span named after the layer it enters.
"""

from __future__ import annotations

import os
import sys

# Build parameters of both the per-run build_ingest index and the
# prepared serving index. Four term buckets, each its own postings job
# (group_size 1), so the four run at once on four cores; one tokenize
# chunk. PageRank's threshold is above any first-iteration L-inf delta
# of these corpora, so it runs exactly one iteration whatever pages the
# seed moves into the delta: a seed-dependent iteration count would
# move build_s by a second per iteration.
BUILD = {"n_chunks": 1, "n_buckets": 4, "group_size": 1, "pagerank_threshold": 1e6}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def setup_env(checkout: str, work: str) -> None:
    """Process environment every Spark process of a run inherits: the
    engine importable by Python workers, scratch inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    if checkout not in sys.path:
        sys.path.insert(0, checkout)


def spark_session(work: str, event_log: str | None = None):
    from searchengine_spark.session import get_spark

    n = nproc()
    conf = {
        # a fixed, pre-touched heap: the JVM's resident set then does
        # not depend on when the collector chose to grow the heap
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions":
            f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
            # Python cannot read the zstd default without an extra module
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait for its JVM, which exits once its stdin closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def warm_up(spark) -> None:
    """Start the JVM-side planner and a Python worker: one tiny
    Arrow-vectorized job, the shape every engine stage has."""
    from pyspark.sql import functions as F

    from searchengine_spark.textprep import extract_titlep_lower_series

    f = F.pandas_udf(extract_titlep_lower_series, "string")
    df = spark.createDataFrame([(b"<p>warm up</p>",)] * 8, "html binary")
    df.select(f("html").alias("t")).collect()


def build(spark, tracer, pages: str, root: str, params: dict) -> None:
    """Pages -> servable root: the seven build stages."""
    from searchengine_spark import anchors, indexer, pagerank, serving

    b = "bench"
    with tracer.span("indexer.tokens"):
        indexer.build_tokens_stage(spark, pages, root, b, n_chunks=params["n_chunks"],
                                   n_buckets=params["n_buckets"])
    with tracer.span("indexer.docstats"):
        indexer.build_docstats_stage(spark, pages, root, b)
    with tracer.span("indexer.postings"):
        indexer.build_postings_stage(spark, root, b, n_buckets=params["n_buckets"],
                                     group_size=params["group_size"])
    with tracer.span("indexer.title"):
        indexer.build_title_index_stage(spark, pages, root, b)
    with tracer.span("pagerank"):
        pagerank.build_pagerank_stage(spark, pages, root, b,
                                      threshold=params["pagerank_threshold"])
    with tracer.span("anchors"):
        anchors.build_anchor_stage(spark, pages, root, b)
    with tracer.span("serving.docstore"):
        serving.build_docstore(spark, root, pages)


def ingest(spark, tracer, landing: str, pages: str, root: str, checkpoint: str) -> dict:
    """Delta pages in ``landing`` (also present under ``pages``) ->
    searchable. Returns byte counts of the delta tokens and of what the
    merge wrote."""
    from searchengine_spark import catalog, merge, serving
    from searchengine_spark.streaming.ingest import stream_tokenize

    tokens = catalog.path(root, catalog.TOKENS)
    with tracer.span("streaming.ingest"):
        stream_tokenize(spark, landing, tokens, checkpoint).awaitTermination()
    before = tree(root)
    delta_bytes = sum(size for rel, (size, _m) in before.items()
                      if rel.startswith(os.path.join(catalog.TOKENS, "chunk=stream-")))
    with tracer.span("merge"):
        merge.merge_tokens_stage(spark, root, "bench-merge", pages_path=pages)
    after = tree(root)
    written = sum(size for rel, (size, mtime) in after.items() if before.get(rel) != (size, mtime))
    with tracer.span("serving.docstore_refresh"):
        serving.refresh_docstore(spark, root, pages)
    return {"delta_token_bytes": delta_bytes, "merge_bytes_written": written}


def tree(root: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    return sum(size for rel, (size, _m) in tree(path).items()
               if rel.split(os.sep)[0] not in skip)


def index_size_ratio(root: str, pages: str) -> float:
    from searchengine_spark import catalog

    return dir_bytes(root, skip=(catalog.LINEAGE,)) / dir_bytes(pages)


def fsck_findings(spark, root: str) -> list:
    from searchengine_spark.fsck import fsck

    return fsck(spark, root).collect()


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def jvm_pids(parent: int) -> list[int]:
    """Java processes whose parent is ``parent`` (the Spark driver JVM)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if ppid == parent and b"java" in cmd.split(b"\0", 1)[0]:
            out.append(int(d))
    return out


def peak_rss_mb() -> dict:
    """Peak resident set (VmHWM) in MiB of this Spark driver Python
    process, of its JVM, and their sum."""
    py = _status_kb(os.getpid(), "VmHWM") / 1024.0
    jvm = sum(_status_kb(j, "VmHWM") for j in jvm_pids(os.getpid())) / 1024.0
    return {"python": py, "jvm": jvm, "total": py + jvm}
