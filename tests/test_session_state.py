"""Structural guards. No SparkSession needed.

- Session state has one owner: ``vearch_spark/session.py``. Module-level
  caches elsewhere each grow their own key shape and release rules.
- Engine files have one JSON reader and writer, and index dumps one
  format: ``vearch_spark/persist.py``.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OWNER = os.path.join("vearch_spark", "session.py")
JSON_OWNER = os.path.join("vearch_spark", "persist.py")
OPERATORS = os.path.join("vearch_spark", "operators") + os.sep


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


def _tree(rel: str) -> ast.Module:
    with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=rel)


def test_only_persist_module_calls_json_load_or_dump():
    offenders = []
    for rel in _modules():
        if rel == JSON_OWNER:
            continue
        tree = _tree(rel)
        aliases, direct = set(), set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                aliases |= {a.asname or a.name for a in node.names if a.name == "json"}
            elif isinstance(node, ast.ImportFrom) and node.module == "json":
                direct |= {a.asname or a.name for a in node.names
                           if a.name in ("load", "dump")}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr in ("load", "dump")
                and isinstance(f.value, ast.Name)
                and f.value.id in aliases
            ) or (isinstance(f, ast.Name) and f.id in direct):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders


def test_only_family_roots_define_save_or_load():
    """One save/load per index family: IVFFlatIndex and HNSWIndex.
    (The private in-task shard graphs' ``load`` adopts stored
    adjacency; it is not a dump.)"""
    allowed = {"IVFFlatIndex", "HNSWIndex"}
    offenders = []
    for rel in _modules():
        if not rel.startswith(OPERATORS):
            continue
        for node in ast.walk(_tree(rel)):
            if (
                isinstance(node, ast.ClassDef)
                and not node.name.startswith("_")
                and node.name not in allowed
            ):
                offenders += [
                    f"{rel}: {node.name}.{d.name}"
                    for d in node.body
                    if isinstance(d, ast.FunctionDef) and d.name in ("save", "load")
                ]
    assert not offenders, offenders
