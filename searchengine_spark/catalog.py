"""Index/table layout on storage.

The reference persists everything as ``pt-*`` KVS tables (``kvs/Table.java:
33-45``); the rebuild uses an Iceberg-shaped layout that is plain
Parquet-in-directories in this sandbox (SURVEY.md §7.0 — no Iceberg jars
here; on a real cluster the same names become Iceberg identifiers and the
bucket directory becomes a bucket partition spec).

Layout under an index root:

    tokens/chunk=<c>/bucket=<b>/    tokenized corpus (resume unit: chunk)
    docstats/                       (doc_id, url, doc_len)
    postings/group=<g>/bucket=<b>/  posting segments, format in compress.py
                                    (resume unit: group of buckets); a
                                    term's df is the sum of its segments'
                                    n_postings
    title_index/                    (term, doc_id) from the title pipeline
    anchor_index/                   optional (doc_id, term, n_anchors)
    pageranks/                      (doc_id, rank)
    docstore/                       doc_id-sorted (url, title, snippet)
    _lineage/                       per-partition completion records
    _meta.json                      n_buckets, group_size, target_postings,
                                    tokens_manifest, n_docs, avgdl, ...
                                    (source of truth)

Every index table has one declared on-disk schema (``SCHEMAS``, partition
columns included) and one Spark reader (``read``), so no read pays a
schema-inference job; kernels that write a table take their output
schema from it (``schema(table, drop=...)``). The pages corpus is
external input, not an index table: ``indexer.ingest`` reads it with an
inferred schema, which is what rejects a pages table without
``url``/``html``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import types as T

TOKENS = "tokens"
DOCSTATS = "docstats"
POSTINGS = "postings"
TITLE_INDEX = "title_index"
ANCHOR_INDEX = "anchor_index"  # optional inbound-anchor-text field
PAGERANKS = "pageranks"
DOCSTORE = "docstore"  # forward index for serving: doc_id-sorted (url, title, snippet)
LINEAGE = "_lineage"
TABLES = (TOKENS, DOCSTATS, POSTINGS, TITLE_INDEX, ANCHOR_INDEX, PAGERANKS,
          DOCSTORE, LINEAGE)


def _struct(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, t) for name, t in cols])


_INT, _LONG, _STR = T.IntegerType(), T.LongType(), T.StringType()

# the on-disk schema of every index table, partition columns last (as
# Spark's partition discovery orders them); INDEX_FORMAT versions them
SCHEMAS = {
    TOKENS: _struct(
        ("doc_id", _LONG), ("term", _STR), ("tf", _INT),
        ("positions", T.ArrayType(_INT)), ("doc_len", _INT), ("max_tf", _INT),
        # stream chunks are named stream-<hash>-<batch>
        ("chunk", _STR), ("bucket", _INT),
    ),
    DOCSTATS: _struct(("doc_id", _LONG), ("url", _STR), ("doc_len", _INT)),
    POSTINGS: _struct(
        ("term", _STR), ("salt", _INT), ("n_salts", _INT),
        ("n_postings", _INT), ("doc_blob", T.BinaryType()),
        ("tf_blob", T.BinaryType()), ("dl_blob", T.BinaryType()),
        ("pos_blob", T.BinaryType()), ("block_last", T.ArrayType(_LONG)),
        ("block_max_norm", T.ArrayType(T.FloatType())),
        # byte offset of each block's first varbyte inside its blob —
        # lets WAND decode only the blocks it visits (skip decoding)
        ("doc_boff", T.ArrayType(_LONG)), ("tf_boff", T.ArrayType(_LONG)),
        ("dl_boff", T.ArrayType(_LONG)),
        # the avgdl the block maxima were computed with: after an
        # incremental merge shifts corpus avgdl, untouched segments stay
        # valid — query-time bounds are inflated by max(1, avgdl/ref)
        # (tf_norm grows at most linearly in avgdl), scores themselves
        # always use the decoded tf/dl with the CURRENT avgdl
        ("avgdl_ref", T.DoubleType()), ("max_norm", T.FloatType()),
        ("group", _INT), ("bucket", _INT),
    ),
    TITLE_INDEX: _struct(("term", _STR), ("doc_id", _LONG)),
    ANCHOR_INDEX: _struct(("doc_id", _LONG), ("term", _STR), ("n_anchors", _LONG)),
    PAGERANKS: _struct(("doc_id", _LONG), ("rank", T.DoubleType())),
    DOCSTORE: _struct(
        ("doc_id", _LONG), ("url", _STR), ("title", _STR), ("snippet", _STR)
    ),
}


def schema(table: str, drop: tuple[str, ...] = ()) -> T.StructType:
    """``table``'s declared schema less the ``drop`` columns — a kernel
    writing the table emits it without the partition columns the layout
    adds."""
    return T.StructType([f for f in SCHEMAS[table].fields if f.name not in drop])

# Defaults sized for the sandbox; a 1000-executor build would raise
# N_BUCKETS to O(1024) and TARGET_POSTINGS stays the per-blob memory bound.
N_BUCKETS = 8
N_CHUNKS = 8
TARGET_POSTINGS = 1 << 17  # max postings per (term, salt) blob
BUCKET_GROUP_SIZE = 4  # buckets per postings job (resume unit = group)


META = "_meta.json"

# bump when the on-disk index format changes (segment columns, salting,
# compression, which tables and _meta.json keys exist); readers and
# cached test fixtures key off it
INDEX_FORMAT = 5


def path(root: str, table: str) -> str:
    return os.path.join(root, table)


def exists(root: str, table: str) -> bool:
    return os.path.exists(path(root, table))


# ---------------------------------------------------------------------------
# Filesystem access — every listdir/glob/rename in the engine goes through
# these, so porting to an object store (S3 listing + Iceberg commits) is a
# one-module change instead of a hunt through indexer/query/checkpoint.
# ---------------------------------------------------------------------------

def list_files(dir_path: str, suffix: str = "") -> list[str]:
    """Sorted absolute paths of the files directly under ``dir_path``."""
    if not os.path.isdir(dir_path):
        return []
    return sorted(
        os.path.join(dir_path, f)
        for f in os.listdir(dir_path)
        if f.endswith(suffix) and os.path.isfile(os.path.join(dir_path, f))
    )


def list_entries(dir_path: str) -> list[str]:
    """Sorted names of every entry (file or dir) directly under
    ``dir_path``; empty when it does not exist."""
    if not os.path.isdir(dir_path):
        return []
    return sorted(os.listdir(dir_path))


def glob_dirs(pattern: str) -> list[str]:
    """Sorted directory paths matching a glob pattern."""
    import glob as _glob

    return sorted(p for p in _glob.glob(pattern) if os.path.isdir(p))


def tree_manifest(dir_path: str) -> list[tuple[str, int, int]]:
    """Sorted (relative_path, size, mtime_ns) of every data file under
    ``dir_path`` (recursive; skips hidden/_ bookkeeping files). The
    input-content identity of a table: any append/replace/delete changes
    it — mtime_ns is included so a same-size in-place rewrite is not
    invisible to the stage fingerprints. (merge.py's delta detection
    deliberately drops the mtime field — see its comment.)"""
    out: list[tuple[str, int, int]] = []
    if os.path.isfile(dir_path):
        st = os.stat(dir_path)
        return [(os.path.basename(dir_path), st.st_size, st.st_mtime_ns)]
    for dp, dirs, files in os.walk(dir_path):
        # prune hidden/bookkeeping DIRECTORIES too: Spark's job-commit
        # scratch (_temporary/) holds normally-named part files, so a
        # basename check alone would manifest a half-written batch —
        # and merge would fold it in, then flag it "vanished" after the
        # stream's replay rewrote the chunk
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dp, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, dir_path), st.st_size, st.st_mtime_ns))
    return sorted(out)


def content_fingerprint(dir_path: str) -> str:
    """md5 of the tree manifest — folded into stage lineage fingerprints
    so resume never serves results computed from different input data."""
    m = hashlib.md5(json.dumps(tree_manifest(dir_path)).encode())
    return m.hexdigest()


def write_atomic(final_path: str, data: bytes) -> None:
    """Write-then-rename so concurrent/killed writers never expose a
    partial file (an Iceberg commit on a real catalog)."""
    os.makedirs(os.path.dirname(final_path), exist_ok=True)
    tmp = f"{final_path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, final_path)


# ---------------------------------------------------------------------------
# Index metadata — build parameters persisted at build time so readers
# never re-derive them from directory shape (an empty term-hash bucket
# must not change the bucket count the query planner hashes against).
# ---------------------------------------------------------------------------

def write_meta(root: str, **updates: object) -> dict:
    meta = read_meta(root)
    meta.update(updates)
    write_atomic(os.path.join(root, META), json.dumps(meta, sort_keys=True).encode())
    return meta


def read_meta(root: str) -> dict:
    p = os.path.join(root, META)
    if not os.path.exists(p):
        return {}
    with open(p, "rb") as f:
        return json.loads(f.read())


def parquet_rows_bytes(dir_path: str) -> tuple[int, int]:
    """(row_count, file_bytes) for a parquet directory tree, from file
    footers only — no Spark job, no data read. Used by the lineage
    records so a completed partition never pays a verification rescan."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    paths = [
        os.path.join(dp, f)
        for dp, _dirs, files in os.walk(dir_path)
        for f in files
    ]
    nbytes = sum(os.path.getsize(p) for p in paths)

    def _rows(p: str) -> int:
        return pq.ParquetFile(p).metadata.num_rows if p.endswith(".parquet") else 0

    if not paths:
        return 0, 0
    with ThreadPoolExecutor(max_workers=16) as pool:
        rows = sum(pool.map(_rows, paths))
    return rows, nbytes


def _swap_siblings(live: str) -> tuple[str, str]:
    """(staged, aside) paths ``replace_dir`` swaps ``live`` through. A
    partition dir (``bucket=<b>``) gets dot-prefixed siblings: Spark's
    partition discovery and fsck's ``group=*/bucket=*`` parse skip
    hidden names but would read a visible ``bucket=1.swap-tmp``."""
    head, name = os.path.split(live)
    if "=" in name:
        live = os.path.join(head, "." + name)
    return live + ".swap-tmp", live + ".swap-old"


def replace_dir(live: str, write_fn) -> None:
    """Write via ``write_fn(tmp_path)`` then swap into ``live`` with an
    atomic aside+rename pair: readers never observe a missing or
    half-written directory, and a crash between the two renames is
    repaired by ``restore_aside`` on the next run (plain
    mode('overwrite') to the live path had both failure modes). A
    ``write_fn`` that raises leaves ``live`` as it was and no staged
    dir behind."""
    tmp, aside = _swap_siblings(live)
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write_fn(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.exists(live):
        os.replace(live, aside)
    os.replace(tmp, live)
    shutil.rmtree(aside, ignore_errors=True)


def restore_aside(live: str) -> None:
    """Undo a replace_dir crash window: live missing, aside present."""
    aside = _swap_siblings(live)[1]
    if not os.path.exists(live) and os.path.exists(aside):
        os.replace(aside, live)


# ---------------------------------------------------------------------------
# Spark access — a search request's fixed cost is dominated by Spark jobs
# that do no query work, so driver-built tables and index tables are read
# here without them.
# ---------------------------------------------------------------------------

def local_df(spark, rows, schema):
    """DataFrame over driver-side ``rows`` (tuples in ``schema`` order;
    ``schema`` a StructType or DDL string). Built from an Arrow table it
    plans as a LocalRelation: no Python-worker task per core to unpickle
    a few rows (``createDataFrame(<list>)`` plans a LogicalRDD over a
    PythonRDD), and joins against it broadcast from the driver."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def read(spark, root: str, table: str, parts: list[str] | None = None):
    """Parquet read of index table ``table`` under ``root`` with its
    declared schema: no schema-inference job, and the file listing stays
    live, so merged segments and appended docstore files are seen.
    ``parts`` is a subset of the table's partition dirs or files, read
    with the table as basePath; an empty subset reads no files."""
    if parts is not None and not parts:
        return local_df(spark, [], SCHEMAS[table])
    table_path = path(root, table)
    reader = spark.read.schema(SCHEMAS[table]).option("basePath", table_path)
    return reader.parquet(*(parts or [table_path]))
