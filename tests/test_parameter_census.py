"""The options rule, enforced: a parameter exists only when some call site
sets it. A defaulted parameter that no call passes is a knob with one
value, so its default is the behaviour and belongs in the body (a
literal, or a module constant when several functions read it).

The census is an AST scan. It walks every function the package defines
and every call in the package, ``tools/``, ``perfbench/``, ``tests/``,
``bench.py`` and ``__spark_entry__.py``. A call sets a parameter by
keyword, by position (``self``/``cls`` skipped for methods), or through
``*``/``**`` unpacking, which sets them all. A call is matched to a
function by its bare name (``f(...)``, ``obj.f(...)``), and a constructor
call by its class name to that class's ``__init__``. Same-named functions
pool their calls, so a parameter set on one is counted as set on all:
the census errs on the lenient side, never flagging a parameter some
call really sets."""

from __future__ import annotations

import ast
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
_PKG = _ROOT / "weather_data_ingestion_gcp_spark"
_CALLERS = [
    _PKG, _ROOT / "tools", _ROOT / "perfbench", _ROOT / "tests",
    _ROOT / "bench.py", _ROOT / "__spark_entry__.py",
]


def _files(roots):
    for root in roots:
        yield from sorted(root.rglob("*.py")) if root.is_dir() else [root]


def _defs():
    """``(path, def, enclosing class or None)`` for every function in the
    package, nested ones included."""

    def walk(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                yield from walk(child, child)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield child, cls
                yield from walk(child, None)
            else:
                yield from walk(child, cls)

    for path in _files([_PKG]):
        for fn, cls in walk(ast.parse(path.read_text()), None):
            yield path, fn, cls


def _calls() -> dict[str, list[ast.Call]]:
    by_name: dict[str, list[ast.Call]] = {}
    for path in _files(_CALLERS):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                by_name.setdefault(name, []).append(node)
    return by_name


def _census() -> tuple[int, list[str]]:
    """(defaulted parameters, ``file:line function(param)`` per unset one)."""
    calls = _calls()
    total, unset = 0, []
    for path, fn, cls in _defs():
        a = fn.args
        positional = a.posonlyargs + a.args
        defaulted = [p.arg for p in positional[len(positional) - len(a.defaults):]]
        defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        if not defaulted:
            continue
        total += len(defaulted)
        bound = cls is not None and not any(
            getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list
        )
        name = cls.name if bound and fn.name == "__init__" else fn.name
        passed: set[str] = set()
        for call in calls.get(name, []):
            if any(isinstance(x, ast.Starred) for x in call.args):
                passed.update(p.arg for p in positional)
            n = len(call.args)
            passed.update(p.arg for p in positional[int(bound):int(bound) + n])
            for kw in call.keywords:
                passed.update(defaulted if kw.arg is None else [kw.arg])
        unset += [
            f"{path.relative_to(_ROOT).as_posix()}:{fn.lineno} {fn.name}({p})"
            for p in defaulted if p not in passed
        ]
    return total, unset


def test_every_defaulted_parameter_is_set_by_some_call_site():
    total, unset = _census()
    assert total > 0
    assert not unset, (
        f"{len(unset)} of {total} defaulted parameters are passed by no call "
        "site; make each default the behaviour:\n" + "\n".join(unset)
    )
