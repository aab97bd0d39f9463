"""Decontamination: the eval split and the exact-overlap geometry are
each spelled once per engine, and the semantic decontamination entry
agrees with a pure-Python reference.

The eval split (test / holdout / train by hash bucket) lives in
``operators/sampling.py`` for Spark and ``plans/oracle_sql.py`` for
DuckDB; an AST scan fails if any other package module compares a hash
bucket with one of the split's literals, directly, through a name or
column alias bound to the bucket, or inside an oracle f-string.
"""

from __future__ import annotations

import ast
import hashlib
import math
import re
from pathlib import Path

import pytest

from weather_data_ingestion_gcp_spark.operators.sampling import TEST_PCT, TRAIN_FROM
from weather_data_ingestion_gcp_spark.plans import QUERIES

PACKAGE = Path(__file__).resolve().parent.parent / "weather_data_ingestion_gcp_spark"
SPLIT_HOMES = {"operators/sampling.py", "plans/oracle_sql.py"}
_SPLIT_LITERALS = {TEST_PCT, TRAIN_FROM}
_BUCKET_FNS = {"hash_bucket", "hash_bucket_sql"}
_CMP = r"\s*(?:%\s*100\s*)?(?:<=|>=|<|>)\s*(\d+)\b"
_SQL_BUCKET = "\x00B\x00"


def _unwrap(node: ast.AST) -> ast.AST:
    """Strip a trailing ``% n`` and ``.alias(...)`` off an expression."""
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mod):
        node = node.left
    if (
        isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr == "alias"
    ):
        node = node.func.value
    return node


def _is_bucket_call(node: ast.AST) -> bool:
    node = _unwrap(node)
    f = getattr(node, "func", None)
    return isinstance(node, ast.Call) and (
        getattr(f, "id", None) in _BUCKET_FNS or getattr(f, "attr", None) in _BUCKET_FNS
    )


def split_spellings(src: str) -> list[int]:
    """Line numbers where ``src`` compares a hash bucket with an eval-split
    literal: ``hash_bucket(k) < 10``, ``b = hash_bucket(k)`` ... ``b >= 15``,
    ``hash_bucket(k).alias("_b")`` ... ``F.col("_b") < 10``, and the SQL
    forms ``{hash_bucket_sql(k)} % 100 < 10`` or ``... AS b`` ... ``b < 10``
    inside one f-string."""
    tree = ast.parse(src)
    names, aliases = set(), set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Assign) and _is_bucket_call(n.value):
            names |= {t.id for t in n.targets if isinstance(t, ast.Name)}
        if (
            isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "alias"
            and _is_bucket_call(n.func.value) and n.args
            and isinstance(n.args[0], ast.Constant)
        ):
            aliases.add(n.args[0].value)

    def is_bucket(node: ast.AST) -> bool:
        node = _unwrap(node)
        if isinstance(node, ast.Name):
            return node.id in names
        if getattr(getattr(node, "func", None), "attr", None) == "col":
            return any(getattr(a, "value", None) in aliases for a in node.args)
        return _is_bucket_call(node)

    found = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Compare):
            ops = [n.left, *n.comparators]
            if any(map(is_bucket, ops)) and any(
                isinstance(o, ast.Constant) and o.value in _SPLIT_LITERALS for o in ops
            ):
                found.append(n.lineno)
        elif isinstance(n, ast.JoinedStr):
            sql = "".join(
                v.value if isinstance(v, ast.Constant)
                else _SQL_BUCKET if is_bucket(v.value) else "\x00X\x00"
                for v in n.values
            )
            cols = re.findall(_SQL_BUCKET + r"\s*(?:%\s*100\s*)?AS\s+(\w+)", sql)
            cmps = [_SQL_BUCKET + _CMP] + [rf"\b{re.escape(c)}" + _CMP for c in cols]
            if any(
                int(m) in _SPLIT_LITERALS for p in cmps for m in re.findall(p, sql)
            ):
                found.append(n.lineno)
    return found


@pytest.mark.parametrize(
    "src",
    [
        "d.filter(hash_bucket(F.col('doc_id')) < 10)",
        "b = sampling.hash_bucket(F.col('doc_id'))\nd.filter(b >= 15)",
        "e = d.select(hash_bucket(F.col('k')).alias('_b'))\ne.filter(F.col('_b') < 10)",
        "q = f\"WHERE {hash_bucket_sql('k')} % 100 < 10\"",
        "q = f\"SELECT {hash_bucket_sql('k')} % 100 AS b FROM t WHERE split.b >= 15\"",
        "bucket = hash_bucket_sql('k')\nq = f\"CASE WHEN {bucket} < 15 THEN 1 END\"",
    ],
)
def test_split_scan_catches_each_spelling(src):
    assert split_spellings(src) != []


def test_eval_split_spelled_only_in_its_homes():
    """The eval split's literals meet a hash bucket only in
    operators/sampling.py (Spark) and plans/oracle_sql.py (DuckDB); every
    other module reads in_test_split / in_train_split / train_test_split
    or their ``_sql`` mirrors."""
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel not in SPLIT_HOMES and (lines := split_spellings(path.read_text())):
            found[rel] = lines
    assert found == {}, found


def test_split_labels_agree_across_engines(spark):
    """sampling.train_test_split and oracle_sql.train_test_split_sql label
    2000 ids alike, and the test / train predicates select exactly the
    ids so labelled, on both engines: hash_bucket_sql carries the same
    ``% 100`` as hash_bucket."""
    import duckdb
    from pyspark.sql import functions as F

    from weather_data_ingestion_gcp_spark.operators import sampling
    from weather_data_ingestion_gcp_spark.plans import oracle_sql

    ids = list(range(2000))
    want = {
        i: "test" if _bucket(i) < TEST_PCT
        else "train" if _bucket(i) >= TRAIN_FROM else "holdout"
        for i in ids
    }
    assert set(want.values()) == {"test", "holdout", "train"}

    df = spark.range(2000).withColumnRenamed("id", "k")
    spark_split = {
        r.k: (r.split, r.t, r.r)
        for r in sampling.train_test_split(df, "k").select(
            "k", "split",
            sampling.in_test_split("k").alias("t"),
            sampling.in_train_split("k").alias("r"),
        ).collect()
    }
    con = duckdb.connect()
    duck_split = {
        k: (s, t, r)
        for k, s, t, r in con.execute(
            f"SELECT k, {oracle_sql.train_test_split_sql('k')}, "
            f"{oracle_sql.in_test_split_sql('k')}, {oracle_sql.in_train_split_sql('k')} "
            "FROM range(2000) t(k)"
        ).fetchall()
    }
    expect = {i: (s, s == "test", s == "train") for i, s in want.items()}
    assert spark_split == expect
    assert duck_split == expect


def _write_embeddings(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(
        rows, "vec_id bigint, label bigint, embedding array<float>"
    ).write.parquet(f"{path}/embeddings.parquet")


def _bucket(i: int) -> int:
    """sampling.hash_bucket of an integer id, in pure Python."""
    return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100


def test_semantic_decontamination_matches_pure_python(spark, tmp_path):
    """Brute-force the per-block test->train argmax in pure Python with
    the SAME ascending-dimension fold, including the smallest-train-id
    tie rule (two identical train vectors)."""
    # pick ids whose buckets land in the eval split's test and train
    # bands so the fixture controls its own split
    test_ids = [i for i in range(2000) if _bucket(i) < TEST_PCT]
    train_ids = [i for i in range(2000) if _bucket(i) >= TRAIN_FROM]
    t0, t1 = test_ids[0], test_ids[1]
    r0, r1, r2, r3 = train_ids[0], train_ids[1], train_ids[2], train_ids[3]
    rows = [
        # label 0: t0 nearly parallel to r0, orthogonal-ish to r1
        (t0, 0, [1.0, 0.0, 0.1]),
        (r0, 0, [0.9, 0.05, 0.1]),
        (r1, 0, [0.0, 1.0, 0.0]),
        # label 1: r2 == r3 exactly -> tie must break to min(r2, r3)
        (t1, 1, [0.5, 0.5, 0.0]),
        (r2, 1, [1.0, 1.0, 0.0]),
        (r3, 1, [1.0, 1.0, 0.0]),
        # the holdout band must not participate; find one
        *[
            (i, 0, [1.0, 0.0, 0.0])
            for i in range(2000)
            if TEST_PCT <= _bucket(i) < TRAIN_FROM
        ][:1],
    ]
    _write_embeddings(spark, str(tmp_path), rows)
    got = {
        r["test_id"]: (r["train_id"], r["cos_sim"], r["contaminated"])
        for r in QUERIES["decontaminate_semantic_topmatch"](
            spark, str(tmp_path)
        ).collect()
    }

    def cos(a, b):
        dot = n1 = n2 = 0.0
        for d in range(len(a)):  # ascending-dim fold, same IEEE order
            dot += a[d] * b[d]
            n1 += a[d] * a[d]
            n2 += b[d] * b[d]
        return dot / (math.sqrt(n1) * math.sqrt(n2))

    vec = {i: [float(x) for x in e] for i, _l, e in rows}
    # float32 storage: round-trip through struct to mirror parquet floats
    import struct

    vec = {
        i: [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        for i, v in vec.items()
    }
    want = {}
    for tid, block in ((t0, (r0, r1)), (t1, (r2, r3))):
        best = max(block, key=lambda r: (cos(vec[tid], vec[r]), -r))
        s = cos(vec[tid], vec[best])
        want[tid] = (best, round(s, 6), s >= 0.35)
    assert got == want
    assert got[t1][0] == min(r2, r3)  # the tie rule, explicitly
    assert got[t0][0] == r0 and got[t0][2]


def _cos(a, b):
    """Cosine with the ascending-dim IEEE fold and dot/(na*nb)."""
    dot = n1 = n2 = 0.0
    for d in range(len(a)):
        dot += a[d] * b[d]
        n1 += a[d] * a[d]
        n2 += b[d] * b[d]
    return dot / (math.sqrt(n1) * math.sqrt(n2))


def _naive_topmatch(vec, test_ids, train_ids):
    """Unchunked reference: full argmax with the smallest-id tie rule
    and the ascending-dim IEEE fold."""
    out = {}
    for t in test_ids:
        best = max(train_ids, key=lambda r: (_cos(vec[t], vec[r]), -r))
        s = _cos(vec[t], vec[best])
        out[t] = (best, round(s, 6), s >= 0.35)
    return out


def test_semantic_decontamination_chunked_fold_equals_naive(
    spark, tmp_path, monkeypatch
):
    """The tile scan (bounded score matrix) must be output-identical to
    the untiled result: shrink the tile edge to 3 so a ~20-train-vector
    label folds across 7 tiles, with (a) a tie pair split ACROSS tiles
    (must keep the smaller id), (b) the strict best in the LAST tile
    (running max must replace), and (c) a test side wider than one
    tile. The same fixture's within-label pairs through
    dedup_embedding_cosine (25 vectors: the 45 tiles on or above the
    diagonal of a 9 x 9 tiling) must equal a pure-Python all-pairs."""
    from weather_data_ingestion_gcp_spark.operators import similarity

    monkeypatch.setattr(similarity, "TILE", 3)
    test_ids = [i for i in range(3000) if _bucket(i) < TEST_PCT][:5]
    train_ids = [i for i in range(3000) if _bucket(i) >= TRAIN_FROM][:20]
    import random

    rng = random.Random(82)
    vecs = {}
    for t in test_ids:
        vecs[t] = [rng.uniform(-1, 1) for _ in range(4)]
    for r in train_ids:
        vecs[r] = [rng.uniform(-1, 1) for _ in range(4)]
    # (a) cross-tile tie: train_ids is ascending, so [2] and [17] land in
    # different size-3 tiles; make them identical and very close to
    # test_ids[0] so they are that test vector's argmax
    near = [x * 1.01 for x in vecs[test_ids[0]]]
    vecs[train_ids[2]] = list(near)
    vecs[train_ids[17]] = list(near)
    # (b) strict best for test_ids[1] in the last tile
    vecs[train_ids[19]] = [x * 0.99 for x in vecs[test_ids[1]]]
    rows = [(i, 0, vecs[i]) for i in test_ids + train_ids]
    _write_embeddings(spark, str(tmp_path), rows)
    got = {
        r["test_id"]: (r["train_id"], r["cos_sim"], r["contaminated"])
        for r in QUERIES["decontaminate_semantic_topmatch"](
            spark, str(tmp_path)
        ).collect()
    }
    import struct

    vec32 = {
        i: [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        for i, v in vecs.items()
    }
    want = _naive_topmatch(vec32, test_ids, train_ids)
    assert got == want
    assert got[test_ids[0]][0] == train_ids[2]  # cross-tile tie -> min id
    assert got[test_ids[1]][0] == train_ids[19]  # last-tile strict best

    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in QUERIES["dedup_embedding_cosine"](spark, str(tmp_path)).collect()
    }
    ids = sorted(vec32)
    want_pairs = {
        (a, b): round(_cos(vec32[a], vec32[b]), 6)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _cos(vec32[a], vec32[b]) >= 0.35
    }
    assert want_pairs and pairs == want_pairs


def test_semantic_decontamination_excludes_zero_norm(spark, tmp_path):
    """A zero vector has no cosine; its NaN would sort differently in
    Spark (fails >=) vs DuckDB (NaN above everything). Both sides must
    drop zero-norm embeddings: a zero TEST vector emits no row, a zero
    TRAIN vector never wins, and a label whose only train vector is
    zero-norm emits nothing."""
    test_ids = [i for i in range(2000) if _bucket(i) < TEST_PCT]
    train_ids = [i for i in range(2000) if _bucket(i) >= TRAIN_FROM]
    t0, t1, t2 = test_ids[:3]
    r0, r1, r2 = train_ids[:3]
    rows = [
        # label 0: zero test vector beside a live one
        (t0, 0, [0.0, 0.0, 0.0]),
        (t1, 0, [1.0, 0.0, 0.0]),
        (r0, 0, [0.9, 0.1, 0.0]),
        # zero TRAIN vector would be NaN-argmax without the guard
        (r1, 0, [0.0, 0.0, 0.0]),
        # label 1: only train vector is zero-norm -> no row for t2
        (t2, 1, [0.0, 1.0, 0.0]),
        (r2, 1, [0.0, 0.0, 0.0]),
    ]
    _write_embeddings(spark, str(tmp_path), rows)
    got = {
        r["test_id"]: r["train_id"]
        for r in QUERIES["decontaminate_semantic_topmatch"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {t1: r0}
