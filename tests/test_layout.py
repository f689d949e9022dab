"""Module layout of the query package and the test suite.

Query modules are named for the family they hold, every module is
discovered by ``queries.load_all`` without a hand-kept list, and no
module-level name is bound twice, so moving a query between modules can
never let one helper silently shadow another.
"""

from __future__ import annotations

import ast
import os
import re
import sys

from laser_hadoop_spark import queries, registry

_QDIR = os.path.dirname(os.path.abspath(queries.__file__))
_TDIR = os.path.dirname(os.path.abspath(__file__))
_ROUND_NAMED = re.compile(r"^(test_)?(round\d|extras)")

# Round-named test modules whose tests still wait for a move into the
# family or operator file they exercise. The set may only shrink.
_UNMOVED_ROUND_TESTS = {
    "test_round10_fixes",
    "test_round12_fixes",
    "test_round12_opt",
    "test_round13_opt",
    "test_round4b_ops",
    "test_round4f_ops",
    "test_round6_fixes",
    "test_round6_ops",
    "test_round8_fixes",
}


def _modules(path: str) -> list[str]:
    return sorted(f[:-3] for f in os.listdir(path) if f.endswith(".py") and f != "__init__.py")


def _bound_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names += [n.id for n in ast.walk(t) if isinstance(n, ast.Name)]
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names += [(a.asname or a.name).split(".")[0] for a in node.names]
    return names


def test_module_layout():
    # no module named after the round that added it
    assert [m for m in _modules(_QDIR) if _ROUND_NAMED.match(m)] == []
    round_tests = {m for m in _modules(_TDIR) if _ROUND_NAMED.match(m)}
    assert round_tests <= _UNMOVED_ROUND_TESTS, round_tests - _UNMOVED_ROUND_TESTS

    # no module-level name bound twice in one query module
    trees = {}
    for m in _modules(_QDIR):
        with open(os.path.join(_QDIR, m + ".py")) as f:
            trees[m] = ast.parse(f.read())
    twice = {}
    for m, tree in trees.items():
        names = _bound_names(tree)
        dup = sorted({n for n in names if names.count(n) > 1})
        if dup:
            twice[m] = dup
    assert twice == {}

    # load_all imports every query module, and every @register in the
    # package registers (none hides in an unimported module)
    queries.load_all()
    missing = [m for m in trees if f"{queries.__name__}.{m}" not in sys.modules]
    assert missing == []
    decorated = sum(
        isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
        for tree in trees.values()
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        for d in node.decorator_list
    )
    assert decorated == len(registry.specs())
