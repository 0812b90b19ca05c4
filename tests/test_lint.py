"""Static checks over the pipeline registry's source."""

import ast
import pathlib
from collections import Counter

import pytest

PIPELINES = sorted(
    (pathlib.Path(__file__).parent.parent / "searchengine_spark" / "pipelines").glob("*.py")
)


def _module_constant_targets(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        else:
            continue
        for t in targets:
            # names bound by the statement; ORACLE["q1"] = ... fills a
            # registry entry and does not rebind ORACLE
            names = t.elts if isinstance(t, (ast.Tuple, ast.List)) else [t]
            for n in names:
                if isinstance(n, ast.Name) and n.id.isupper():
                    yield n.id


@pytest.mark.parametrize("path", PIPELINES, ids=lambda p: p.name)
def test_pipeline_constants_bound_once(path):
    """A module-level UPPER_CASE constant assigned twice silently rebinds
    the earlier query's value for BOTH engines (q48's TOKEN_BUDGET once
    rebound q42's, and the oracle gate stayed green). Per-query
    constants take a prefix instead."""
    counts = Counter(_module_constant_targets(ast.parse(path.read_text())))
    assert not {k: n for k, n in counts.items() if n > 1}


CODEC_INTERNALS = {
    "varbyte_encode", "varbyte_decode", "varbyte_nbytes",
    "block_byte_offsets", "decode_block", "to_signed", "to_unsigned",
}


def test_segment_codec_stays_in_compress():
    """Only compress.py may touch segment blob bytes: every other module
    goes through encode_segment/decode_segment and friends, so the
    posting-segment format has one definition."""
    pkg = pathlib.Path(__file__).parent.parent / "searchengine_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "compress.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
            elif isinstance(node, ast.Attribute):  # compress.varbyte_decode
                names = {node.attr}
            else:
                continue
            rel = path.relative_to(pkg)
            offenders += [f"{rel}: {n}" for n in sorted(names & CODEC_INTERNALS)]
    assert not offenders, offenders


def _calls(tree: ast.AST, attr: str):
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == attr:
            yield node


# modules with their own inputs, not index tables: the pipelines
# registry, the streaming demos, the file-format and Iceberg readers and
# the spark-submit CLIs
_OWN_INPUTS = ("pipelines", "streaming", "jobs", "formats.py", "iceberg.py")


def test_one_way_to_build_a_driver_table_and_read_an_index_table():
    """Driver-built tables go through catalog.local_df (a LocalRelation:
    no Python-worker task per core, as createDataFrame of a list
    plans); index tables are read only through catalog.read, with their
    declared schema, so no read pays a schema-inference job. The one
    other spark.read is the pages corpus, external input read through
    indexer._ingest_filter (ingest and the tokenize chunk read)."""
    pkg = pathlib.Path(__file__).parent.parent / "searchengine_spark"
    offenders = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "catalog.py" and "pipelines" not in path.parts
        for node in _calls(ast.parse(path.read_text()), "createDataFrame")
    ]
    assert not offenders, offenders
    reads = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        if rel.parts[0] in _OWN_INPUTS or path == pkg / "catalog.py":
            continue
        tree = ast.parse(path.read_text())
        pages_reads = set()
        if path == pkg / "indexer.py":
            pages_reads = {
                id(node)
                for call in ast.walk(tree)
                if isinstance(call, ast.Call)
                and isinstance(call.func, ast.Name)
                and call.func.id == "_ingest_filter"
                for node in _calls(call, "read")
            }
        reads += [
            f"{rel}:{node.lineno}"
            for node in _calls(tree, "read")
            if isinstance(node.value, ast.Name) and node.value.id == "spark"
            and id(node) not in pages_reads
        ]
    assert not reads, f"spark.read outside catalog.read: {reads}"


def test_renames_stay_in_catalog():
    """Every rename in the engine goes through catalog.py (write_atomic,
    replace_dir, restore_aside), so an object-store port — where a
    rename is a commit — changes one module."""
    pkg = pathlib.Path(__file__).parent.parent / "searchengine_spark"
    offenders = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "catalog.py"
        for attr in ("replace", "rename")
        for node in _calls(ast.parse(path.read_text()), attr)
        if isinstance(node.value, ast.Name) and node.value.id == "os"
    ]
    assert not offenders, offenders
