"""fsck: a healthy index is clean; seeded corruptions are detected."""

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from searchengine_spark import catalog
from searchengine_spark.fsck import fsck


def test_healthy_index_is_clean(spark, tiny_index):
    rows = fsck(spark, tiny_index).collect()
    assert rows == [], [r.asDict() for r in rows]


@pytest.fixture()
def corruptible_index(tiny_index, tmp_path):
    root = str(tmp_path / "idx")
    shutil.copytree(tiny_index, root)
    return root


def _one_segment_file(root):
    files = sorted(glob.glob(os.path.join(
        catalog.path(root, catalog.POSTINGS), "group=*", "bucket=*", "*.parquet")))
    assert files
    return files[0]


def _rewrite(path, mutate):
    t = pq.read_table(path)
    pq.write_table(mutate(t), path)
    # drop Hadoop's checksum sidecar — the corruption should reach the
    # fsck logic, not be masked by the filesystem layer
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_detects_wrong_n_postings(spark, corruptible_index):
    def mutate(t):
        col = t["n_postings"].to_pylist()
        col[0] += 1
        return t.set_column(
            t.schema.get_field_index("n_postings"), "n_postings",
            pa.array(col, type=t.schema.field("n_postings").type))
    _rewrite(_one_segment_file(corruptible_index), mutate)
    checks = {r["check"] for r in fsck(spark, corruptible_index).collect()
              if r["severity"] == "error"}
    assert "n_postings" in checks


def test_detects_truncated_blob(spark, corruptible_index):
    def mutate(t):
        col = t["doc_blob"].to_pylist()
        col[0] = col[0][: max(len(col[0]) - 1, 0)]
        return t.set_column(
            t.schema.get_field_index("doc_blob"), "doc_blob",
            pa.array(col, type=pa.binary()))
    _rewrite(_one_segment_file(corruptible_index), mutate)
    checks = {r["check"] for r in fsck(spark, corruptible_index).collect()
              if r["severity"] == "error"}
    # a chopped varbyte stream either fails to decode or decodes to the
    # wrong count / wrong block boundaries
    assert checks & {"blob_decode", "n_postings", "block_last", "block_meta_len"}


def test_detects_salt_gap(spark, corruptible_index):
    """A segment claiming one more salt than its term has segments
    leaves a gap in the salt range 0..n_salts-1."""
    def mutate(t):
        col = t["n_salts"].to_pylist()
        col[0] += 1
        return t.set_column(
            t.schema.get_field_index("n_salts"), "n_salts",
            pa.array(col, type=t.schema.field("n_salts").type))
    _rewrite(_one_segment_file(corruptible_index), mutate)
    checks = {r["check"] for r in fsck(spark, corruptible_index).collect()
              if r["severity"] == "error"}
    assert "salt_contract" in checks


def test_detects_stats_drift(spark, corruptible_index):
    meta = catalog.read_meta(corruptible_index)
    catalog.write_meta(corruptible_index, avgdl=meta["avgdl"] + 1.0)
    checks = {r["check"] for r in fsck(spark, corruptible_index).collect()
              if r["severity"] == "error"}
    assert "stats" in checks


def test_reports_stale_root_entries(spark, corruptible_index):
    """Top-level entries that are not index tables — the dictionary/
    and stats/ dirs a format-4 root keeps after an in-place rebuild, or
    a stray file — are warnings naming the entry; hidden bookkeeping
    names are not reported. A crashed table swap's ``.swap-old`` aside
    is reported as a swap leftover, never as stale: restore_aside reads
    it back when the live table is missing."""
    for name in ("dictionary", "stats"):
        os.makedirs(os.path.join(corruptible_index, name, "group=0"))
        part = os.path.join(corruptible_index, name, "group=0", "x.parquet")
        with open(part, "wb") as fh:
            fh.write(b"old")
    with open(os.path.join(corruptible_index, "notes.txt"), "w") as fh:
        fh.write("stray")
    with open(os.path.join(corruptible_index, "_bookkeeping"), "w") as fh:
        fh.write("hidden")
    ds = catalog.path(corruptible_index, catalog.DOCSTATS)
    shutil.copytree(ds, ds + ".swap-old")
    rows = fsck(spark, corruptible_index).collect()
    stale = [r for r in rows if r["check"] == "stale_entry"]
    assert {r["severity"] for r in stale} == {"warning"}
    assert sorted(r["detail"].split("'")[1] for r in stale) == [
        "dictionary", "notes.txt", "stats"]
    swap = [r for r in rows if r["check"] == "swap_leftover"]
    assert [(r["severity"], r["detail"].split("'")[1]) for r in swap] == [
        ("warning", "docstats.swap-old")]
    assert "do not delete" in swap[0]["detail"]
    assert not any(r["severity"] == "error" for r in rows)


def test_detects_stale_lineage_after_token_append(spark, corruptible_index):
    # plant a new token file the postings manifest has never seen
    tokens_root = catalog.path(corruptible_index, catalog.TOKENS)
    src = sorted(glob.glob(os.path.join(
        tokens_root, "chunk=*", "bucket=*", "*.parquet")))[0]
    shutil.copy(src, os.path.join(os.path.dirname(src), "part-appended.parquet"))
    rows = fsck(spark, corruptible_index).collect()
    assert any(r["check"] == "lineage" and r["severity"] == "warning"
               for r in rows)
    # and it is a warning, not an error: exit code contract
    assert not any(r["severity"] == "error" for r in rows)


def test_serving_stores_checked(spark, corruptible_index, tiny_pages_path):
    """Docstore/anchor stores join the integrity sweep: clean when
    consistent; duplicated docstore doc_id and orphan rows are errors;
    docs missing from the store (post-ingest lag) is a warning naming
    refresh_docstore; duplicated anchor (doc_id, term) is an error."""
    from searchengine_spark.anchors import build_anchor_stage
    from searchengine_spark.serving import build_docstore

    root = corruptible_index
    build_docstore(spark, root, tiny_pages_path, n_files=2)
    build_anchor_stage(spark, tiny_pages_path, root, "fsck-anchor")
    assert fsck(spark, root).collect() == []

    ds = catalog.path(root, catalog.DOCSTORE)
    files = sorted(glob.glob(os.path.join(ds, "*.parquet")))
    assert files

    # duplicate one docstore row -> error
    t = pq.read_table(files[0])
    pq.write_table(pa.concat_tables([t, t.slice(0, 1)]), files[0])
    crc = os.path.join(ds, f".{os.path.basename(files[0])}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    found = [r["check"] for r in fsck(spark, root).collect()
             if r["severity"] == "error"]
    assert "docstore" in found

    # drop the duplicate but point the row at a foreign doc_id -> orphan
    t2 = t.set_column(
        t.schema.get_field_index("doc_id"), "doc_id",
        pa.array([-1] + t.column("doc_id").to_pylist()[1:], pa.int64()),
    )
    pq.write_table(t2, files[0])
    rows = fsck(spark, root).collect()
    assert any(
        r["check"] == "docstore" and r["severity"] == "error"
        and "absent from docstats" in r["detail"] for r in rows
    )
    # ...and the displaced real doc now reads as lagging -> warning
    assert any(
        r["check"] == "docstore" and r["severity"] == "warning"
        and "refresh_docstore" in r["detail"] for r in rows
    )

    # restore, then duplicate an anchor row -> error
    pq.write_table(t, files[0])
    ai = catalog.path(root, catalog.ANCHOR_INDEX)
    afiles = sorted(glob.glob(os.path.join(ai, "*.parquet")))
    assert afiles
    at = pq.read_table(afiles[0])
    pq.write_table(pa.concat_tables([at, at.slice(0, 1)]), afiles[0])
    acrc = os.path.join(ai, f".{os.path.basename(afiles[0])}.crc")
    if os.path.exists(acrc):
        os.remove(acrc)
    assert any(
        r["check"] == "anchor_index" and r["severity"] == "error"
        for r in fsck(spark, root).collect()
    )
