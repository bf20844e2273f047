"""No module- or class-level name is defined twice in the program
sources.  A second ``def`` of the same name silently replaces the
first for every caller (a stricter ``_sql_str`` was once shadowed by a
laxer copy further down ``operators/sparql.py``).  Spark-free: parses
the files with ``ast`` only."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = ["face_hunter_spark", "jobs", "scripts"]


def _defined_names(body):
    """(name, line) of every def / class / plain assignment directly in
    ``body``.  Property setters and deleters re-bind their getter's
    name on purpose, so they do not count."""
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if any(
                isinstance(d, ast.Attribute)
                and d.attr in ("setter", "deleter")
                for d in node.decorator_list
            ):
                continue
            yield node.name, node.lineno
        elif isinstance(node, ast.ClassDef):
            yield node.name, node.lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target]
            )
            for t in targets:
                if isinstance(t, ast.Name):
                    yield t.id, node.lineno


def _redefinitions(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    scopes = [("<module>", tree.body)] + [
        (node.name, node.body)
        for node in ast.walk(tree)
        if isinstance(node, ast.ClassDef)
    ]
    found = []
    for scope, body in scopes:
        first = {}
        for name, line in _defined_names(body):
            if name in first:
                found.append(
                    f"{path.relative_to(ROOT)}:{line}: {scope}.{name} "
                    f"redefines line {first[name]}"
                )
            else:
                first[name] = line
    return found


def test_no_name_defined_twice():
    sources = [
        p for d in SOURCE_DIRS for p in sorted((ROOT / d).rglob("*.py"))
    ]
    assert len(sources) > 10
    assert [f for p in sources for f in _redefinitions(p)] == []
