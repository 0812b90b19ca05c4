"""Iceberg catalog wiring for the index tables (SURVEY.md §7.0).

The north rule targets an *Iceberg table of Common-Crawl-style web
pages* as the ingest source, with the index tables living in a real
catalog on a production cluster. This sandbox ships no Iceberg jars
(by design — see SURVEY §7.0), so the engine's storage layer runs on
the plain Parquet-directory layout in :mod:`catalog`; this module is
the catalog-backed twin of that layer, active wherever the Iceberg
runtime jar is on the Spark classpath, and import-safe (pure config +
DataFrame API, no direct Iceberg imports) where it is not.

Mapping of the engine's crash-atomicity idioms onto Iceberg commits:

===============================  =====================================
Parquet-directory idiom           Iceberg equivalent here
===============================  =====================================
tokens/chunk=<c>/ append          ``append()`` (atomic snapshot commit)
postings stage+swap per bucket    ``overwritePartitions()`` (dynamic
 (catalog.replace_dir)             partition replace, single commit)
docstats aside+rename             ``createOrReplace()`` (table-level
                                   atomic replace)
_meta.json                        table properties on the tokens table
===============================  =====================================

A killed job never exposes a half-written table in either layer: the
directory layer emulates with rename pairs + ``restore_aside``, the
Iceberg layer gets it from snapshot isolation for free — which is
exactly why the north rule asks for Iceberg at 10^12-doc scale (object
stores have no atomic rename; a real catalog replaces the emulation).

Usage on a cluster with the jars::

    from searchengine_spark.iceberg import iceberg_conf
    from searchengine_spark.session import get_spark

    spark = get_spark(extra_conf=iceberg_conf("/warehouse/path"))
    # tables live under <CATALOG_NAME>.<namespace>.<table>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CATALOG_NAME = "se"
DEFAULT_NAMESPACE = "search_index"

#: Spark conf enabling a Hadoop-warehouse Iceberg catalog named
#: ``se``. The extensions key turns on MERGE/CALL and the
#: ``overwritePartitions`` SQL surface; harmless if already set.
def iceberg_conf(warehouse: str, catalog_name: str = CATALOG_NAME) -> dict[str, str]:
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog_name}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog_name}.type": "hadoop",
        f"spark.sql.catalog.{catalog_name}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 (probe only)
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — any JVM error means "not usable"
        return False


def ident(table: str, namespace: str = DEFAULT_NAMESPACE,
          catalog_name: str = CATALOG_NAME) -> str:
    return f"{catalog_name}.{namespace}.{table}"


def ensure_namespace(spark: SparkSession, namespace: str = DEFAULT_NAMESPACE,
                     catalog_name: str = CATALOG_NAME) -> None:
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog_name}.{namespace}")


# ---------------------------------------------------------------------------
# Pages source (the north rule's input shape: url, warc_ts, html, text,
# lang) and the index tables.
# ---------------------------------------------------------------------------

def create_pages_table(spark: SparkSession, pages: DataFrame,
                       table_ident: str) -> None:
    """Materialize a pages DataFrame as the Iceberg ingest source,
    bucket-partitioned on url so a 10^12-row table lists and scans in
    parallel without a head directory."""
    (
        pages.writeTo(table_ident)
        .partitionedBy(F.bucket(64, F.col("url")))
        .createOrReplace()
    )


def read_pages(spark: SparkSession, table_ident: str) -> DataFrame:
    """Catalog-routed ingest scan — same ingestion predicates as the
    path-based :func:`searchengine_spark.indexer.ingest`, pushed into
    the Iceberg scan by Catalyst."""
    from .indexer import _ingest_filter

    return _ingest_filter(spark.read.table(table_ident))


def append_tokens(tokens: DataFrame, table_ident: str) -> None:
    """Atomic append of a tokenized chunk; partitioned by (chunk,
    bucket) to mirror tokens/chunk=<c>/bucket=<b>. ``createOrReplace``
    on first write, ``append`` after — both single snapshot commits."""
    w = tokens.writeTo(table_ident).partitionedBy(
        F.col("chunk"), F.col("bucket")
    )
    try:
        w.append()
    except Exception:  # table does not exist yet (AnalysisException)
        w.createOrReplace()


def replace_segment_partitions(segments: DataFrame, table_ident: str) -> None:
    """The Iceberg twin of merge.py's per-bucket stage+swap: replace
    exactly the (group, bucket) partitions present in ``segments`` in
    ONE atomic commit — concurrent readers see pre- or post-merge
    segments, never a mix, with no aside/rename emulation."""
    w = segments.writeTo(table_ident).partitionedBy(
        F.col("group"), F.col("bucket")
    )
    try:
        w.overwritePartitions()
    except Exception:  # first write: create with the same spec
        w.createOrReplace()


def read_tokens(spark: SparkSession, table_ident: str,
                buckets: list[int] | None = None) -> DataFrame:
    """Token scan with bucket partition pruning (the reader-side twin of
    the directory globs in query.load_segments)."""
    df = spark.read.table(table_ident)
    if buckets is not None:
        df = df.filter(F.col("bucket").isin([int(b) for b in buckets]))
    return df
