"""Session state has one owner: ``vearch_spark/session.py``.

Module-level caches elsewhere each grow their own key shape and release
rules; this guard keeps new ones from appearing. No SparkSession needed.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OWNER = os.path.join("vearch_spark", "session.py")


def _modules():
    yield "__spark_entry__.py"
    for dirpath, _, files in os.walk(os.path.join(ROOT, "vearch_spark")):
        for f in files:
            if f.endswith(".py"):
                yield os.path.relpath(os.path.join(dirpath, f), ROOT)


def _module_level_names(tree: ast.Module):
    """Names bound by module-level statements, including those nested in
    module-level if/try/with/for blocks but not in defs or classes."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                yield (alias.asname or alias.name).split(".")[0]
            continue
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        for t in targets:
            for n in ast.walk(t):
                if isinstance(n, ast.Name):
                    yield n.id
        stack.extend(c for c in ast.iter_child_nodes(node) if isinstance(c, ast.stmt))


def test_only_session_module_binds_caches():
    offenders = []
    for rel in _modules():
        if rel == OWNER:
            continue
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=rel)
        offenders += [
            f"{rel}: {name}" for name in _module_level_names(tree) if "CACHE" in name
        ]
    assert not offenders, offenders
