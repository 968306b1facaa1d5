"""Every top-level name in the package is used by production code.

Production code is the package itself (minus each name's own
definition and minus the `__init__` re-exports) plus the entry points:
`__spark_entry__.py`, `bench.py`, `tools/` and `perfbench/`. A name only
the tests use is reference code living in a production module; it
belongs in `tests/` or nowhere. The scan is pure `ast`: identifiers,
attribute names, imported names and the words of string literals count
as uses (SQL built in strings names its helpers there); docstrings and
comments do not.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "csv_crm_upload_spark")

#: names production code may leave unused, each with its reason
ALLOWED = {
    "__version__": "package metadata, read by packaging tools",
    "clear_fit_memo": "test-reset hook: isolates memo state between tests",
    "reset_memo_stats": "test-reset hook: zeroes the hit/miss counters a test asserts on",
}

_WORD = re.compile(r"\w+")
_SCOPES = (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _py_files(d: str) -> list[str]:
    return sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs if f.endswith(".py")
    )


def _is_doc(stmt: ast.stmt) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
    )


def _uses(stmt: ast.stmt) -> Counter:
    """The words one top-level statement uses, docstrings excluded."""
    words: list[str] = []
    docs: set[int] = set()
    for n in ast.walk(stmt):
        t = type(n)
        if t is ast.Name:
            words.append(n.id)
        elif t is ast.Attribute:
            words.append(n.attr)
        elif t is ast.alias:
            words.append(n.name.rsplit(".", 1)[-1])
        elif t is ast.Constant:
            if type(n.value) is str and id(n) not in docs:
                words += _WORD.findall(n.value)
        elif t in _SCOPES and n.body and _is_doc(n.body[0]):
            docs.add(id(n.body[0].value))
    return Counter(words)


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, _SCOPES):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _statements(path: str) -> list[ast.stmt]:
    with open(path) as f:
        body = ast.parse(f.read()).body
    return body[1:] if body and _is_doc(body[0]) else body


def unreached_names() -> list[str]:
    total: Counter = Counter()
    defs: list[tuple[str, str, Counter]] = []
    for path in _py_files(PKG):
        rel = os.path.relpath(path, ROOT)
        is_init = os.path.basename(path) == "__init__.py"
        for stmt in _statements(path):
            names = [n for n in _defined(stmt) if n != "__all__"]
            if is_init:  # re-exports: neither uses nor definitions to keep
                defs += [(rel, n, Counter()) for n in names]
                continue
            uses = _uses(stmt)
            total.update(uses)
            defs += [(rel, n, uses) for n in names]
    entry_points = [
        os.path.join(ROOT, "__spark_entry__.py"),
        os.path.join(ROOT, "bench.py"),
        *_py_files(os.path.join(ROOT, "tools")),
        *_py_files(os.path.join(ROOT, "perfbench")),
    ]
    for path in entry_points:
        for stmt in _statements(path):
            total.update(_uses(stmt))
    return sorted(
        f"{rel}: {name}"
        for rel, name, own in defs
        if total[name] - own[name] <= 0 and name not in ALLOWED
    )


def test_every_package_name_is_reached_from_production():
    assert unreached_names() == []
