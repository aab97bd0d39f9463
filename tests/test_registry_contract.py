"""Registry-wide driver-contract guards.

The driver runs every entry in ``__spark_entry__.queries()`` and
canonicalizes the result via pandas (sort columns by name, hash values).
Two failure classes killed the round-1 sweep and are pinned here:

1. A query that fails *analysis* (e.g. ``unix_micros`` over the
   TIMESTAMP_NTZ the driver's parquet actually produces) aborts the bench.
   ``df.schema`` forces full analysis of the logical plan against the REAL
   driver parquet files — every registered query must analyze cleanly.
2. An Array/Map-typed output column crashes pandas' canonicalizer
   (``unhashable type: numpy.ndarray``) and aborts the sweep for every
   query registered after it. Registered outputs must be scalar-only.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from weather_data_ingestion_gcp_spark.plans import ORACLE, QUERIES

SF_DIR = "/root/testdata/sf0.001"

_NAMES = sorted(QUERIES)


@pytest.fixture(scope="module")
def schemas(spark):
    """Analyze every registered query once against the real driver parquet.

    ``df.schema`` triggers analysis (type resolution, function binding)
    without executing — all ~130 queries check in seconds.
    """
    out = {}
    for name in _NAMES:
        try:
            out[name] = QUERIES[name](spark, SF_DIR).schema
        except Exception as exc:  # keep sweeping; report per-query below
            out[name] = exc
    return out


@pytest.mark.parametrize("name", _NAMES)
def test_query_analyzes(schemas, name):
    res = schemas[name]
    assert not isinstance(res, Exception), f"{name} failed analysis: {res!r}"


@pytest.mark.parametrize("name", _NAMES)
def test_no_complex_output_columns(schemas, name):
    res = schemas[name]
    if isinstance(res, Exception):
        pytest.skip("analysis failed; covered by test_query_analyzes")
    bad = [
        f.name
        for f in res.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name} emits complex-typed columns {bad}; the driver canonicalizer "
        "only hashes scalars — array_join/to_json/posexplode them"
    )


@pytest.mark.parametrize("name", _NAMES)
def test_no_duplicate_output_columns(schemas, name):
    """Duplicate column names break pandas-side canonicalization (column
    selection by label becomes ambiguous) — same crash class as complex
    types, pinned the same way."""
    res = schemas[name]
    if isinstance(res, Exception):
        pytest.skip("analysis failed; covered by test_query_analyzes")
    names = [f.name for f in res.fields]
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"{name} emits duplicate column names: {dupes}"


@pytest.fixture(scope="module")
def duck_types():
    """DESCRIBE every oracle in DuckDB (no execution) against the real
    driver parquet — the oracle's output types, exactly as the driver's
    DuckDB side will produce them."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    out = {}
    for name, sql in ORACLE.items():
        try:
            out[name] = {
                r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()
            }
        except Exception as exc:
            out[name] = exc
    con.close()
    return out


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_type_classes_match_spark(schemas, duck_types, name):
    """The driver hashes the Spark result and the DuckDB oracle result
    independently, so a logical-type CLASS mismatch (DuckDB's SUM(BIGINT)
    -> HUGEINT/decimal128 vs Spark's SUM(BIGINT) -> int64) is a red
    driver row even when every value matches — this killed
    sessionize_events for rounds 1-3. Pin the whole class: every oracle
    column's type class must equal the Spark column's, and no oracle may
    emit decimal at all (CAST the SUM to BIGINT / DOUBLE instead)."""
    from weather_data_ingestion_gcp_spark.plans.registry import type_class

    d = duck_types[name]
    assert not isinstance(d, Exception), f"{name} DESCRIBE failed: {d!r}"
    s = schemas[name]
    if isinstance(s, Exception):
        pytest.skip("analysis failed; covered by test_query_analyzes")
    s_types = {f.name: f.dataType.simpleString() for f in s.fields}
    decimals = [c for c, t in d.items() if type_class(t) == "decimal"]
    assert not decimals, (
        f"{name} oracle emits decimal/HUGEINT columns {decimals}; "
        "CAST the aggregate to BIGINT (outside the SUM) or divide to DOUBLE"
    )
    mismatch = [
        (c, s_types[c], d[c])
        for c in s_types
        if c in d and type_class(s_types[c]) != type_class(d[c])
    ]
    assert not mismatch, (
        f"{name} type-class mismatches (col, spark, duckdb): {mismatch}"
    )


def test_every_oracle_has_a_query():
    missing = sorted(set(ORACLE) - set(QUERIES))
    assert not missing, f"oracle entries without a registered query: {missing}"


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    """Schema-identical parquet tables with zero rows — the degenerate
    input every operator must survive (empty partitions/day-slices are
    routine at 100 TB)."""
    import pyarrow.parquet as pq

    dst = tmp_path_factory.mktemp("sf_empty")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        tbl = pq.read_table(f"{SF_DIR}/{t}.parquet")
        pq.write_table(tbl.slice(0, 0), str(dst / f"{t}.parquet"))
    return str(dst)


def test_every_query_survives_empty_tables(spark, empty_sf_dir):
    """No registered query may crash on empty inputs — eager driver-side
    seeds (k-means, MMR query vectors, CC probes) must degrade to empty
    results, not exceptions."""
    failures = []
    for name in _NAMES:
        try:
            QUERIES[name](spark, empty_sf_dir).limit(5).collect()
        except Exception as exc:
            failures.append(f"{name}: {type(exc).__name__}")
    assert not failures, f"queries crashing on empty input: {failures}"


def test_driver_window_is_pinned():
    """The correctness driver hard-checks the FIRST 50 registry entries;
    ordering is therefore evidence allocation, and a stray registration
    must not silently evict driver coverage. Round 3 front-loads the
    LLM-pipeline block (never driver-checked in rounds 1-2) plus
    sessionize_events; see plans/__init__.py DRIVER_WINDOW and
    COVERAGE.md for the rationale and rotation history."""
    from weather_data_ingestion_gcp_spark.plans import DRIVER_WINDOW

    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert list(QUERIES)[:50] == DRIVER_WINDOW


def test_perfbench_corpus_queries_keep_their_registry_order():
    """perfbench's corpus_ops workload runs its CORPUS_QUERIES in registry
    order (each memo anchor before its follower); a window rotation must
    keep that order."""
    import ast
    from pathlib import Path

    src = Path(__file__).resolve().parent.parent / "perfbench" / "workloads.py"
    (corpus,) = [
        ast.literal_eval(n.value)
        for n in ast.parse(src.read_text()).body
        if isinstance(n, ast.Assign)
        and [getattr(t, "id", None) for t in n.targets] == ["CORPUS_QUERIES"]
    ]
    assert [n for n in QUERIES if n in corpus] == corpus == [
        "dedup_minhash_lsh",
        "dedup_clusters",
        "similarity_ann_rp_lsh",
        "dedup_semantic_prune",
        "decontaminate_ngram_exact",
        "embedding_quantize_int8",
    ]


def test_capped_minhash_readers_declare_their_memo():
    """The three readers of registry.capped_minhash_pairs declare one
    shares key, so the registry order keeps them adjacent wherever
    DRIVER_WINDOW puts them."""
    from weather_data_ingestion_gcp_spark.plans import SHARES

    readers = {n for n, keys in SHARES.items() if "capped_minhash_pairs" in keys}
    assert readers == {
        "dedup_minhash_lsh_capped",
        "graph_pagerank_neardup_capped",
        "graph_triangle_counts_capped",
    }


def test_load_table_memoizes_per_session_and_dir(spark):
    """load_table returns the SAME analyzed DataFrame object for repeat
    calls (kills the per-call spark.read.parquet re-analysis behind the
    suite's per-query floor) and distinct objects across sf dirs — a
    plan memo, never a cross-dataset alias."""
    from weather_data_ingestion_gcp_spark.plans.registry import load_table

    a = load_table(spark, "/root/testdata/sf0.001", "documents")
    b = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert a is b
    c = load_table(spark, "/root/testdata/sf0.01", "documents")
    assert c is not a
    # events normalization survives the memo (ts is TIMESTAMP, not NTZ/long)
    e = load_table(spark, "/root/testdata/sf0.001", "events")
    assert e is load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(e.dtypes)["ts"] == "timestamp"


def test_shares_groups_run_contiguously():
    """Suite order past the driver window is derived from
    ``register(shares=...)``: the first declarer of a key (window first,
    then registration order) anchors it and every later declarer runs
    right after it, so the shared relation is hottest when read.

    Pinned: each key has at least two declarers (a lone declaration
    shares nothing, e.g. a misspelt key); a sharer outside the window
    anchors no key of its own; the window is never reordered;
    the sharers outside the window run as one contiguous run right
    after their anchor — or, for an anchor inside the window, inside
    the run of window-anchored sharers that opens the post-window
    suite."""
    from weather_data_ingestion_gcp_spark.plans import DRIVER_WINDOW, SHARES

    declarers: dict[str, list[str]] = {}
    for name in DRIVER_WINDOW + [n for n in QUERIES if n not in DRIVER_WINDOW]:
        for key in SHARES.get(name, ()):
            declarers.setdefault(key, []).append(name)
    anchors = {names[0] for names in declarers.values()}
    for key, names in declarers.items():
        assert len(names) >= 2, f"shares key {key!r} has one declarer: {names}"
        for n in names[1:]:
            assert n in DRIVER_WINDOW or n not in anchors, (
                f"{n} follows {names[0]} and anchors another key: chains are unsupported"
            )
    order = list(QUERIES)
    window = set(DRIVER_WINDOW)
    assert order[: len(DRIVER_WINDOW)] == DRIVER_WINDOW
    pos = {n: i for i, n in enumerate(order)}
    anchor_of = {
        n: names[0] for names in declarers.values() for n in names[1:]
        if n not in window
    }
    window_followers = {n for n, a in anchor_of.items() if a in window}
    for key, names in declarers.items():
        anchor = names[0]
        outside = [n for n in names[1:] if n not in window]
        if not outside:
            continue
        if anchor in window:
            # the post-window suite opens with window-anchored sharers
            for between in order[len(DRIVER_WINDOW) : max(pos[n] for n in outside)]:
                assert between in window_followers, (
                    f"{between} separates {key!r} sharers from the window "
                    f"boundary (anchor {anchor} is inside the window)"
                )
            continue
        run = order[pos[anchor] : pos[anchor] + 1 + len(outside)]
        assert run == [anchor] + outside, (
            f"{key!r} sharers do not run right after {anchor}: {run}"
        )


def test_plan_modules_are_laid_out_by_domain():
    """Each plan module holds one domain's entries and the helpers only
    that domain uses: a plan module imports nothing from a sibling plan
    module but ``registry`` and ``oracle_sql`` (shared helpers live
    there), and no module or test file is named for the round that added
    it."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    package = root / "weather_data_ingestion_gcp_spark"
    plans = package / "plans"
    siblings = {p.stem for p in plans.glob("*.py")} - {"__init__", "registry", "oracle_sql"}
    offenders = [
        f"{path.name}:{n.lineno}: .{m}"
        for path in sorted(plans.glob("*.py")) if path.name != "__init__.py"
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.ImportFrom) and n.level == 1
        for m in ([n.module] if n.module else [a.name for a in n.names])
        if m in siblings
    ]
    assert not offenders, offenders
    round_named = [
        p.relative_to(root).as_posix()
        for base in (package, root / "tests") for p in base.rglob("*.py")
        if p.name.startswith("round")
    ]
    assert not round_named, round_named
