"""The session store is the only place a relation outlives its call.

Scans the package source: outside ``store.py`` every ``.persist(`` or
``.cache()`` sits in a function that also calls ``.unpersist(`` (a
scoped, self-releasing cache), an eager ``localCheckpoint`` appears only
in ``store.py``, and the retired persist spellings are gone.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "weather_data_ingestion_gcp_spark"
RETIRED = re.compile(
    r"persist_tracked|cache_pairs_frame|session_memo_persist|loop_frame"
    r"|_SHINGLE_CACHE|_graft_\w*_memo"
)


def _sources():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE).as_posix(), path.read_text()


def _calls(node: ast.AST, attr: str) -> list[ast.Call]:
    return [
        n for n in ast.walk(node)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr
    ]


def _eager(call: ast.Call) -> bool:
    """``localCheckpoint`` defaults to eager=True."""
    given = call.args[:1] + [k.value for k in call.keywords if k.arg == "eager"]
    return not given or not (isinstance(given[0], ast.Constant) and given[0].value is False)


def test_relations_outlive_their_call_only_through_the_store():
    problems = []
    for rel, src in _sources():
        if rel == "store.py":
            continue
        tree = ast.parse(src)
        funcs = [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        owner = {}
        for fn in funcs:  # innermost enclosing function wins (walk is outer-first)
            for n in ast.walk(fn):
                owner[n] = fn
        for call in _calls(tree, "persist") + _calls(tree, "cache"):
            fn = owner.get(call)
            if fn is None or not _calls(fn, "unpersist"):
                where = fn.name if fn else "module level"
                problems.append(f"{rel}:{call.lineno} .{call.func.attr}() in {where} without .unpersist(")
        for call in _calls(tree, "localCheckpoint"):
            if _eager(call):
                problems.append(f"{rel}:{call.lineno} eager localCheckpoint outside store.py")
        for m in RETIRED.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            problems.append(f"{rel}:{line} retired name {m.group(0)}")
    assert not problems, "\n".join(problems)
