"""Each DuckDB oracle primitive is spelled once, in ``plans/oracle_sql.py``.

Scans the package source: the hand-spelled fragments of the md5-hex
integer, the word split, the whitespace class and its fold, the MinHash
signature, the Jaccard verify join, the span islands and the eval split's
predicates occur in ``oracle_sql.py`` only; no plan module rewrites SQL
with ``re.sub`` or imports a ``_SQL_*`` / ``_sql_*`` fragment from a sibling.
The numpy mirror of ``list_dot_product``, the ascending-dimension fold,
occurs in ``operators/similarity.py`` only, and the Spark text
normalization (whitespace folding, the stopword pattern) in
``operators/text.py`` only.
Then pins the md5-hex integer across engines: DuckDB ``hex_sql`` and
Spark ``hex_int`` must both equal Python's reading of the same digest.
"""

from __future__ import annotations

import ast
import hashlib
import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.operators.sampling import hex_int
from weather_data_ingestion_gcp_spark.plans.oracle_sql import hex_sql

PACKAGE = Path(__file__).resolve().parent.parent / "weather_data_ingestion_gcp_spark"
PLANS = PACKAGE / "plans"
HOME = "plans/oracle_sql.py"
FRAGMENTS = [
    "strpos('0123456789abcdef'",
    "string_split_regex(lower(text)",
    "MIN(md5(shingle",
    "JOIN sh sb ON",
    "list_dot_product(v, ",
    r"[\t\n\v\f\r ]",
    "+', ' ', 'g'",
    "- ROW_NUMBER() OVER (",
    "< {TEST_PCT}",
    ">= {TRAIN_FROM}",
]
FRAGMENT_NAME = re.compile(r"^_(SQL|sql)_")


def _sources():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE).as_posix(), path.read_text()


@pytest.mark.parametrize("fragment", FRAGMENTS)
def test_fragment_spelled_once_in_oracle_sql(fragment):
    found = {rel: src.count(fragment) for rel, src in _sources() if fragment in src}
    assert found == {HOME: 1}, found


def _range_folds(tree: ast.AST):
    """Line numbers of ``acc += a[..., d] * b[..., d]``-shaped statements:
    a product accumulated inside ``for d in range(...)`` and subscripted
    by the loop variable."""
    for loop in ast.walk(tree):
        if not (
            isinstance(loop, ast.For) and isinstance(loop.target, ast.Name)
            and isinstance(loop.iter, ast.Call)
            and getattr(loop.iter.func, "id", None) == "range"
        ):
            continue
        var = loop.target.id
        for n in ast.walk(loop):
            if (
                isinstance(n, ast.AugAssign) and isinstance(n.op, ast.Add)
                and isinstance(n.value, (ast.BinOp, ast.Call))
                and any(
                    isinstance(s, ast.Subscript)
                    and var in {x.id for x in ast.walk(s.slice) if isinstance(x, ast.Name)}
                    for s in ast.walk(n.value)
                )
            ):
                yield n.lineno


def test_ascending_fold_spelled_once_in_similarity():
    """The fold's IEEE addition order is what makes numpy dot products
    bitwise-equal to DuckDB's; every numpy dot goes through
    ``similarity._fold``, so no other module may accumulate one."""
    found = {
        rel: list(_range_folds(ast.parse(src))) for rel, src in _sources()
    }
    found = {rel: lines for rel, lines in found.items() if lines}
    assert list(found) == ["operators/similarity.py"], found
    assert len(found["operators/similarity.py"]) == 1, found


def test_text_normalization_spelled_once_in_text():
    """Outside ``oracle_sql.py`` the whitespace-run regex occurs once
    (``text._collapse_ws``, behind ``norm_ws``, ``normalize_text`` and
    ``strip_markup``), the stopword count's pattern is built once, and no
    module folds text in Python: a Python ``str.split()`` also splits on
    U+00A0, which neither Java's nor RE2's ``\\s`` matches."""
    spark_side = [(rel, src) for rel, src in _sources() if rel != HOME]
    for needle in (r"\s+", "(?<= )"):
        found = {rel: src.count(needle) for rel, src in spark_side if needle in src}
        assert found == {"operators/text.py": 1}, (needle, found)
    assert not [rel for rel, src in _sources() if ".lower().split()" in src]


def test_plan_modules_neither_rewrite_sql_nor_share_private_fragments():
    offenders = []
    for path in sorted(PLANS.glob("*.py")):
        tree = ast.parse(path.read_text())
        re_names = {
            a.asname or a.name
            for n in ast.walk(tree) if isinstance(n, ast.Import)
            for a in n.names if a.name == "re"
        }
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr == "sub" and isinstance(n.func.value, ast.Name)
                and n.func.value.id in re_names
            ):
                offenders.append(f"{path.name}:{n.lineno}: re.sub")
            if isinstance(n, ast.ImportFrom):
                sibling = (n.module or "").rsplit(".", 1)[-1]
                from_plans = n.level == 1 or (n.module or "").startswith(
                    "weather_data_ingestion_gcp_spark.plans"
                )
                if from_plans and sibling != "oracle_sql":
                    offenders += [
                        f"{path.name}:{n.lineno}: {a.name} from {sibling}"
                        for a in n.names if FRAGMENT_NAME.match(a.name)
                    ]
    assert not offenders, offenders


def test_plan_modules_never_read_another_entry_oracle():
    """An oracle that composes another entry's SQL takes it from a module
    constant or builder, never from ``ORACLE[...]``: a registry read breaks
    as soon as registration order changes."""
    offenders = [
        f"{path.name}:{n.lineno}"
        for path in sorted(PLANS.glob("*.py"))
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Subscript) and isinstance(n.value, ast.Name)
        and n.value.id == "ORACLE" and isinstance(n.ctx, ast.Load)
    ]
    assert not offenders, offenders


KEYS = ["0", "-1", "-9223372036854775808", "x" * 10_000, None]
SLICES = [(1, 4), (5, 4), (1, 12)]


def _expected(key, start, width):
    if key is None:
        return None
    digest = hashlib.md5(key.encode()).hexdigest()
    return int(digest[start - 1:start - 1 + width], 16)


@pytest.mark.parametrize("start,width", SLICES)
def test_hex_integer_matches_python_in_duckdb_and_spark(spark, start, width):
    expected = [_expected(k, start, width) for k in KEYS]

    con = duckdb.connect()
    con.execute("CREATE TABLE keys (i INTEGER, k VARCHAR)")
    con.executemany("INSERT INTO keys VALUES (?, ?)", list(enumerate(KEYS)))
    duck = [
        r[0] for r in con.execute(
            f"SELECT {hex_sql('md5(k)', start, width)} FROM keys ORDER BY i"
        ).fetchall()
    ]
    assert duck == expected

    df = spark.createDataFrame(list(enumerate(KEYS)), "i INT, k STRING")
    got = df.orderBy("i").select(hex_int(F.md5("k"), start, width).alias("h"))
    assert [r["h"] for r in got.collect()] == expected


def _duck_documents(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return con


def test_vertical_tab_splits_and_folds_alike_in_both_engines(spark):
    """Java's ``\\s`` matches U+000B and RE2's does not, so the oracle
    spells the class out: ``words`` and ``norm_ws`` give the same tokens
    and string on either engine for a document holding vertical tabs."""
    from weather_data_ingestion_gcp_spark.operators import text
    from weather_data_ingestion_gcp_spark.plans.oracle_sql import norm_ws_sql, words_sql

    rows = [
        (1, "Alpha\x0bbeta gamma"),
        (2, "\x0b lead\x0b\x0btail \x0b"),
        (3, "tab\there\x0c and\r\nnewline\u00a0nbsp"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (list(r.ws), r.nw)
        for r in df.select(
            "doc_id",
            text.words(F.col("text")).alias("ws"),
            text.norm_ws(F.col("text")).alias("nw"),
        ).collect()
    }
    con = _duck_documents(rows)
    want = {
        i: (ws, nw)
        for i, ws, nw in con.execute(
            f"SELECT doc_id, {words_sql}, {norm_ws_sql} FROM documents"
        ).fetchall()
    }
    assert got == want
    assert got[1] == (["alpha", "beta", "gamma"], "alpha beta gamma")


def test_bpe_encode_keeps_a_trailing_nbsp_like_the_oracle(spark, tmp_path):
    """A word that ends in U+00A0 spells to a sequence whose last symbol
    is U+00A0; Spark's trim strips ASCII spaces only, so the oracle's
    trims name the space and keep that symbol."""
    import os

    from weather_data_ingestion_gcp_spark.plans import ORACLE, QUERIES

    text = "ab\u00a0 ab\u00a0 ab\u00a0 cd abcd ab \u00a0x"
    rows = [(i, text, "en", "web", len(text)) for i in range(4)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    got = sorted(tuple(r) for r in QUERIES["bpe_apply_encode"](spark, sf).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    want = sorted(con.execute(ORACLE["bpe_apply_encode"]).fetchall())
    assert got == want
    assert any(enc.endswith("\u00a0") for _, _, enc, _ in got)
