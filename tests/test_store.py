"""The session store is the only place a relation outlives its call.

Scans the package source: outside ``store.py`` every ``.persist(`` or
``.cache()`` sits in a function that also calls ``.unpersist(`` (a
scoped, self-releasing cache), an eager ``localCheckpoint`` appears only
in ``store.py``, and the retired persist spellings are gone. Driver-side
rows enter a plan only through ``store.rows``, whose frames are local
relations equal to what ``createDataFrame(list, schema)`` builds.
"""

from __future__ import annotations

import ast
import datetime as dt
import re
from pathlib import Path

import pytest

from perfbench.gen import weather_plan
from weather_data_ingestion_gcp_spark import store
from weather_data_ingestion_gcp_spark.schemas import RAW_API_SCHEMA

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


def test_driver_rows_enter_a_plan_only_through_store_rows():
    """A list handed to ``createDataFrame`` is a pickled-row RDD whose every
    action forks Python workers; ``store.rows`` is the one call."""
    sites = []
    for rel, src in _sources():
        tree = ast.parse(src)
        owner = {}
        for fn in ast.walk(tree):  # innermost enclosing function wins
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for n in ast.walk(fn):
                    owner[n] = fn.name
        sites += [
            (rel, owner.get(c, "module level"), c.lineno) for c in _calls(tree, "createDataFrame")
        ]
    assert [(rel, name) for rel, name, _ in sites] == [("store.py", "rows")], sites


@pytest.mark.parametrize(
    "data, schema",
    [
        ([], "a bigint, b string"),
        ([(1, dt.date(2024, 2, 29)), (2, dt.date(1970, 1, 1))], "id bigint, d date"),
        ([("doc-b", "doc-a"), ("doc-c", "doc-a")], "doc_id string, component string"),
        ([(1, None, None), (None, "x", 2.5)], "a bigint, b string, c double"),
        (weather_plan(7).files[0].payloads, RAW_API_SCHEMA),
    ],
    ids=["empty", "date", "string_ids", "null_cells", "raw_api_payload"],
)
def test_rows_is_a_local_relation_equal_to_a_list_frame(spark, data, schema):
    got = store.rows(spark, data, schema)
    want = spark.createDataFrame(data, schema)
    assert got.isLocal()
    assert got.schema == want.schema
    assert got.collect() == want.collect()
