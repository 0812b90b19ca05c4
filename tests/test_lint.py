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
