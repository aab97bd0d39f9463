"""Property-based tests (hypothesis): the composed operators vs trivially
correct Python reference implementations on arbitrary small inputs.

Settings are tuned for Spark round-trip cost: few examples, no shrinking
deadline — each example runs real Spark jobs.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from weather_data_ingestion_gcp_spark.operators.dedup import exact_dedup_groups
from weather_data_ingestion_gcp_spark.operators.temporal import (
    asof_join_backward,
    bucketed_range_join,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_ts0 = dt.datetime(2024, 1, 1)


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)), min_size=1, max_size=12, unique=True
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)), min_size=0, max_size=12, unique=True
    ),
)
@settings(**_SETTINGS)
def test_asof_join_matches_python_reference(spark, lefts, rights):
    trades = spark.createDataFrame(
        [(i, k, _ts0 + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)],
        "tid bigint, k bigint, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [(100 + i, k, _ts0 + dt.timedelta(seconds=s), float(s)) for i, (k, s) in enumerate(rights)],
        "qid bigint, k bigint, ts timestamp, px double",
    )
    got = {
        r.tid: r.asof_qid
        for r in asof_join_backward(
            trades, quotes, key="k", left_ts="ts", right_ts="ts",
            right_payload=["qid", "px"], tiebreak="qid",
        ).collect()
    }
    # reference: latest right at-or-before, ties by highest qid
    by_key: dict[int, list[tuple[int, int]]] = {}
    for i, (k, s) in enumerate(rights):
        by_key.setdefault(k, []).append((s, 100 + i))
    expect = {}
    for i, (k, s) in enumerate(lefts):
        cands = [(rs, qid) for rs, qid in by_key.get(k, []) if rs <= s]
        expect[i] = max(cands)[1] if cands else None
    assert got == expect


@given(
    intervals=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 30)), min_size=1, max_size=10
    ),
    points=st.lists(st.integers(-60, 90), min_size=0, max_size=15),
    width=st.sampled_from([1.0, 3.0, 7.5, 64.0]),
)
@settings(**_SETTINGS)
def test_range_join_matches_python_reference(spark, intervals, points, width):
    iv = spark.createDataFrame(
        [(i, float(lo), float(lo + span)) for i, (lo, span) in enumerate(intervals)],
        "iv_id bigint, lo double, hi double",
    )
    pt = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(points)], "pt_id bigint, x double"
    )
    got = sorted(
        (r.iv_id, r.pt_id)
        for r in bucketed_range_join(iv, pt, lo="lo", hi="hi", x="x", bucket_width=width).collect()
    )
    expect = sorted(
        (i, j)
        for i, (lo, span) in enumerate(intervals)
        for j, x in enumerate(points)
        if lo <= x <= lo + span
    )
    assert got == expect


@given(
    texts=st.lists(st.sampled_from(["aa bb", "aa  bb", "cc", "dd ee ff", ""]), min_size=1, max_size=10)
)
@settings(**_SETTINGS)
def test_exact_dedup_group_sizes_sum_to_input(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    groups = exact_dedup_groups(df, "doc_id", "text").collect()
    assert sum(r.n_copies for r in groups) == len(texts)
    assert len(groups) == len(set(texts))
    # keep_id is always the minimum id of its group
    for g in groups:
        ids = [i for i, t in enumerate(texts) if t == texts[g.keep_id]]
        assert g.keep_id == min(ids)


@given(
    n_nodes=st.integers(1, 12),
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=0, max_size=16
    ),
)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, n_nodes, edges):
    from weather_data_ingestion_gcp_spark.operators import graph

    edges = [(a, b) for a, b in edges if a < n_nodes and b < n_nodes and a != b]

    # trivially correct reference: union-find with min-id representatives
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in range(n_nodes)}

    nodes_df = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id BIGINT")
    edges_df = spark.createDataFrame(
        edges or [(0, 0)], "id_a BIGINT, id_b BIGINT"
    )
    if not edges:
        edges_df = edges_df.filter("id_a <> id_a")

    def labels():
        return {
            r.doc_id: r.component
            for r in graph.connected_components(nodes_df, edges_df).collect()
        }

    assert labels() == expected
    # and the distributed star rounds, forced by a zero union-find cap
    with pytest.MonkeyPatch.context() as m:
        m.setattr(graph, "SMALL_GRAPH_EDGES", 0)
        assert labels() == expected


@given(
    words=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=1,
        max_size=120,
    ),
    k=st.integers(2, 6),
)
@settings(**_SETTINGS)
def test_mg_heavy_hitters_matches_exact_reference(spark, words, k):
    """Misra-Gries two-phase output == the trivially exact > n/k filter,
    for any word multiset, any k, any partitioning."""
    from collections import Counter

    from weather_data_ingestion_gcp_spark.operators.sketch import mg_heavy_hitters

    df = spark.createDataFrame([(w,) for w in words], "w string").repartition(3)
    got = {r.w: r.exact_count for r in mg_heavy_hitters(df, "w", k).collect()}
    n = len(words)
    want = {w: c for w, c in Counter(words).items() if c * k > n}
    assert got == want


def _bpe_reference(word_counts: dict[str, int], n_merges: int):
    """Pure-python BPE mirror: overlapping adjacent-pair ranking, (count
    desc, pair asc) tiebreak, double scan-left replace rewrite."""
    seqs = {f" {' '.join(w)} ": c for w, c in word_counts.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: dict[tuple[str, str], int] = {}
        for s, c in seqs.items():
            toks = s.split()
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, l + r, cnt))
        pat, rep = f" {l} {r} ", f" {l}{r} "
        seqs = {
            s.replace(pat, rep).replace(pat, rep): c for s, c in seqs.items()
        }
    return merges


@given(
    wc=st.dictionaries(
        st.text(alphabet="abc", min_size=1, max_size=6),
        st.integers(1, 9),
        min_size=1,
        max_size=8,
    ),
    n_merges=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_bpe_matches_python_reference(spark, wc, n_merges):
    from weather_data_ingestion_gcp_spark.operators.bpe import bpe_learn_merges

    wf = spark.createDataFrame(list(wc.items()), "w string, n long")
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_learn_merges(wf, "w", "n", n_merges=n_merges).collect()
    ]
    assert got == _bpe_reference(wc, n_merges)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=12).map(
            lambda xs: " ".join(xs)
        ),
        min_size=2,
        max_size=10,
    ),
)
@settings(**_SETTINGS)
def test_ppjoin_prefix_filter_is_complete(spark, docs, tmp_path_factory):
    """PPJoin's prefix pruning is provably complete: its output must
    EQUAL the brute-force exact-Jaccard pair set (shingle sets, t=0.5)."""
    import itertools
    import os

    from weather_data_ingestion_gcp_spark.plans.dedup_graph import ppjoin_prefix_similarity

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path_factory.mktemp("ppj"))
    d.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    def sh3(t):
        ws = t.lower().split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    want = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(docs), 2):
        sa, sb = sh3(a), sh3(b)
        if not sa or not sb:
            continue
        jac = len(sa & sb) / len(sa | sb)
        if jac >= 0.5:
            want.add((min(i, j), max(i, j)))
    got = {
        (r["id_a"], r["id_b"]) for r in ppjoin_prefix_similarity(spark, sf).collect()
    }
    assert got == want


@given(
    cents=st.lists(st.integers(0, 10000), min_size=3, max_size=40),
)
@settings(**_SETTINGS)
def test_winsorize_matches_python_reference(spark, cents, tmp_path_factory):
    import math
    import os

    from weather_data_ingestion_gcp_spark.plans.audit_stats import winsorized_robust_stats

    rows = [
        (i, _ts0, 1, "click", c / 100.0, "{}") for i, c in enumerate(cents)
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path_factory.mktemp("win"))
    e.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    r = winsorized_robust_stats(spark, sf).first()
    n = len(cents)
    srt = sorted(cents)
    th_low = srt[(n + 19) // 20 - 1]
    th_high = srt[(19 * n + 19) // 20 - 1]
    assert (r["th_low_cents"], r["th_high_cents"]) == (th_low, th_high)
    assert r["winsorized_sum_cents"] == sum(
        max(th_low, min(th_high, c)) for c in cents
    )


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda e: e[0] != e[1]),
        min_size=0,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_integer_pagerank_matches_python_reference(spark, edges, tmp_path_factory):
    """The BIGINT power iteration must match a pure-Python replay of the
    same integer recurrence exactly (order-free by construction)."""
    import os

    # build docs whose minhash graph is IRRELEVANT — drive the operator's
    # arithmetic directly through its building blocks instead
    from weather_data_ingestion_gcp_spark.plans.dedup_graph import _PR_ITERS

    n_nodes = 8
    sym = {}
    for a, b in edges:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    deg = {u: len(vs) for u, vs in sym.items()}
    init = 10**9 // n_nodes
    base = (15 * init) // 100
    s = {u: init for u in range(n_nodes)}
    for _ in range(_PR_ITERS):
        new = {}
        for v in range(n_nodes):
            inflow = sum(
                (85 * (s[u] // deg[u])) // 100 for u in sym.get(v, ())
            )
            new[v] = base + inflow
        s = new

    # spark replay of the same recurrence over an explicit edge list
    from pyspark.sql import functions as F

    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    if edges:
        e = spark.createDataFrame(list(set(edges)), "id_a long, id_b long")
        sym_df = e.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionAll(
            e.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        ).distinct()
    else:
        sym_df = spark.createDataFrame([], "u long, v long")
    deg_df = sym_df.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    scores = nodes.select("doc_id", F.lit(init).cast("long").alias("s"))
    for _ in range(_PR_ITERS):
        inflow = (
            sym_df.join(scores.select(F.col("doc_id").alias("u"), "s"), "u")
            .join(deg_df, "u")
            .select(F.col("v").alias("doc_id"), F.expr("(85 * (s div d)) div 100").alias("c"))
            .groupBy("doc_id")
            .agg(F.sum("c").alias("inflow"))
        )
        scores = (
            nodes.join(inflow, "doc_id", "left")
            .select("doc_id", (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0))).alias("s"))
        )
    got = {r["doc_id"]: r["s"] for r in scores.collect()}
    assert got == s
