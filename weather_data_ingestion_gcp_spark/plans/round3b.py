"""Round-3b training-data extensions: passage-level dedup, tokenizer
fertility, hard-negative mining, duplication inflation, token-budget shard
packing, code/markdown density signals, last-touch attribution, and a KMV
join-cardinality estimate — the remaining ops a 100 TB pretraining-data
pipeline runs between curation and shard export (SURVEY.md §2.8 north-star
extensions; no reference file:line — the reference's surface stops at the
daily weather rollup, Load-gcs-to-bq/main.py:86-92, and these extend the
same GROUP BY / window / join machinery).

Hash discipline (registry.py contract): counts and ratios are BIGINTs
(FLOOR'd parts-per-million / milli units over exact integer sums); the only
doubles are single-expression chains over deterministic inputs evaluated
identically by both engines (cosine over identical float literals, the KMV
(k-1)/u_k estimate over an exact 48-bit integer) — never order-dependent
double accumulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import store
from ..operators import temporal, text
from ..operators.similarity import _norm, dot_pandas
from .core import _KMV_K, _KMV_SPACE, _sql_hex12_to_bigint
from .registry import ORACLE, load_table, register, std_minhash_pairs

_SQL_WORDS = r"list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')"


# ---------------------------------------------------------------------------
# Passage-level exact dedup (C4 / Lee et al. '22 granularity): documents are
# split into consecutive 20-word passages and duplication is measured at the
# passage level — catching boilerplate shared across otherwise-distinct
# docs that document-level fingerprints miss. Shape: one explode over
# n_words/20 passages per doc, then (source, md5) pairs into one hash
# aggregate — passage TEXT never shuffles (only its 32-byte digest), so the
# shuffle volume is O(passages), independent of document size.
# ---------------------------------------------------------------------------
_PASSAGE_W = 20


@register(
    "passage_exact_dedup",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id, source, {_SQL_WORDS} AS ws FROM documents
    ),
    idx AS (
        SELECT source, ws,
               unnest(generate_series(1, len(ws) // {_PASSAGE_W})) AS i
        FROM ws WHERE len(ws) >= {_PASSAGE_W}
    ),
    p AS (
        SELECT source,
               md5(array_to_string(list_slice(ws, (i - 1) * {_PASSAGE_W} + 1,
                                              i * {_PASSAGE_W}), ' ')) AS ph
        FROM idx
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(COUNT(DISTINCT ph) AS BIGINT) AS n_distinct,
           CAST(FLOOR((COUNT(*) - COUNT(DISTINCT ph)) * 1000000.0
                      / COUNT(*)) AS BIGINT) AS dup_ppm
    FROM p GROUP BY source ORDER BY source
    """,
)
def passage_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", "source", text.words(F.col("text")).alias("ws")).filter(
        F.size("ws") >= _PASSAGE_W
    )
    passages = ws.select(
        "source",
        F.explode(
            F.sequence(F.lit(1), F.expr(f"size(ws) div {_PASSAGE_W}").cast("int"))
        ).alias("i"),
        F.col("ws"),
    ).select(
        "source",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("ws"), (F.col("i") - 1) * _PASSAGE_W + 1, _PASSAGE_W)
            )
        ).alias("ph"),
    )
    agg = passages.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.countDistinct("ph").alias("n_distinct"),
    )
    return agg.select(
        "source",
        "n_passages",
        "n_distinct",
        F.floor(
            (F.col("n_passages") - F.col("n_distinct"))
            * F.lit(1000000.0)
            / F.col("n_passages")
        )
        .cast("long")
        .alias("dup_ppm"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Tokenizer fertility by language: regex-tokens per whitespace-word and
# bytes per regex-token — the stats that size a token budget before a
# training run (fertility ~1 for space-delimited langs, >>1 for scripts the
# tokenizer fragments). One map-side tokenize + one tiny per-lang aggregate.
# ---------------------------------------------------------------------------
@register(
    "token_fertility_by_lang",
    oracle=rf"""
    WITH t AS (
        SELECT lang,
               len({_SQL_WORDS}) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                 AS re_tokens,
               n_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_tokens) AS BIGINT) AS sum_ws_tokens,
           CAST(SUM(re_tokens) AS BIGINT) AS sum_re_tokens,
           CAST(FLOOR(SUM(re_tokens) * 1000.0 / SUM(ws_tokens)) AS BIGINT)
             AS fertility_milli,
           CAST(FLOOR(SUM(n_chars) * 1000.0 / SUM(re_tokens)) AS BIGINT)
             AS chars_per_token_milli
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = text.token_counts(d, "text").select("lang", "ws_tokens", "re_tokens", "n_chars")
    agg = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("sum_ws_tokens"),
        F.sum("re_tokens").alias("sum_re_tokens"),
        F.sum("n_chars").alias("sum_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "sum_ws_tokens",
        "sum_re_tokens",
        F.floor(F.col("sum_re_tokens") * F.lit(1000.0) / F.col("sum_ws_tokens"))
        .cast("long")
        .alias("fertility_milli"),
        F.floor(F.col("sum_chars") * F.lit(1000.0) / F.col("sum_re_tokens"))
        .cast("long")
        .alias("chars_per_token_milli"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training: per query vector, the
# top-3 most-similar vectors with a DIFFERENT label — near neighbors across
# the label boundary are exactly the negatives a contrastive loss needs.
# Same broadcast + Arrow-dot shape as brute_force_topk (norms computed once
# per side before the pair blowup); at 100 TB the query side is the small
# probe set and stays broadcast, so the corpus scan is shuffle-free and the
# only exchange is the final per-query top-k window.
# ---------------------------------------------------------------------------
@register(
    "hard_negative_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS n_id, label AS n_label,
                 CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
        SELECT q_id, n_id, n_label,
               list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                 AS sim
        FROM q CROSS JOIN c
        WHERE q_id <> n_id AND q_label <> n_label
    ),
    ranked AS (
        SELECT q_id, n_id, n_label, sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
        FROM scored
    )
    SELECT q_id, n_id, n_label, ROUND(sim, 6) AS cos_sim, rk
    FROM ranked WHERE rk <= 3 ORDER BY q_id, rk
    """,
)
def hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
        _norm(F.col("embedding")).alias("q_nrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("n_vec"),
        _norm(F.col("embedding")).alias("n_nrm"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("q_id") != F.col("n_id")) & (F.col("q_label") != F.col("n_label")),
    ).select(
        "q_id",
        "n_id",
        "n_label",
        (
            dot_pandas(F.col("q_vec"), F.col("n_vec")) / (F.col("q_nrm") * F.col("n_nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("q_id", "n_id", "n_label", F.round("cos_sim", 6).alias("cos_sim"), "rk")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# Duplication-inflation factor per source: how many raw docs per distinct
# normalized fingerprint — the first number a curation run reports per
# crawl/source (a 3x-inflated source gets its sampling rate cut before any
# expensive near-dup pass). Fingerprints ride the whitespace-normalized md5
# (operators.text.fingerprint rule); one hash aggregate, digests not bodies.
# ---------------------------------------------------------------------------
@register(
    "dup_inflation_by_source",
    oracle=r"""
    WITH fp AS (
        SELECT source,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_docs,
           CAST(FLOOR(COUNT(*) * 1000.0 / COUNT(DISTINCT fp)) AS BIGINT)
             AS inflation_milli
    FROM fp GROUP BY source ORDER BY source
    """,
)
def dup_inflation_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "source",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ).alias("fp"),
    )
    agg = fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_distinct",
        (F.col("n_docs") - F.col("n_distinct")).alias("n_dup_docs"),
        F.floor(F.col("n_docs") * F.lit(1000.0) / F.col("n_distinct"))
        .cast("long")
        .alias("inflation_milli"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Token-budget shard packing: assign documents to export shards so each
# shard carries ~TARGET tokens, deterministically (doc_id order). The
# running sum is windowed WITHIN source — per-source shard sequences keep
# the window partitioned (no single-partition global sort at 100 TB; a
# global sequence would serialize the cumsum). shard = tokens-before // T
# is the standard first-fit streaming pack.
# ---------------------------------------------------------------------------
_SHARD_TOKENS = 400


@register(
    "shard_pack_by_tokens",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, source, len({_SQL_WORDS}) AS n_tokens FROM documents
    ),
    packed AS (
        SELECT source, doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 // {_SHARD_TOKENS} AS shard
        FROM t
    )
    SELECT source, CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM packed GROUP BY source, shard ORDER BY source, shard
    """,
)
def shard_pack_by_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", F.size(text.words(F.col("text"))).alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("shard", F.expr(f"cum_before div {_SHARD_TOKENS}"))
    return (
        packed.groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard")
    )


# ---------------------------------------------------------------------------
# Code / markdown density signals: fence markers, braces, semicolons,
# indented lines — the cheap structural features a quality router uses to
# send a doc down the code-vs-prose pipeline. The synthetic corpus has no
# code, so the query injects a deterministic fixture from doc_id (same
# pattern as the HTML/PII entries) and measures it. All counts are
# length-difference arithmetic over literal substrings (no regex dialect
# exposure), map-only codegen.
# ---------------------------------------------------------------------------
_CODE_SNIPPET = "# Title\n```python\ndef f(x):\n    return x\n```\n"
_BRACE_SNIPPET = "\nif (a) { b(); c(); }\n    indented line\n"


def _count_lit(col, sub: str):
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(sub), F.lit(""))))
        / len(sub)
    ).cast("long")


@register(
    "code_markdown_signals",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN '{_CODE_SNIPPET}' || text
                    WHEN doc_id % 4 = 2 THEN text || '{_BRACE_SNIPPET}'
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST((length(text) - length(replace(text, '```', ''))) / 3 AS BIGINT)
             AS n_fence_markers,
           CAST(length(text) - length(replace(text, '{{', '')) AS BIGINT)
             AS n_open_braces,
           CAST(length(text) - length(replace(text, ';', '')) AS BIGINT)
             AS n_semicolons,
           CAST((length(text) - length(replace(text, chr(10) || '    ', ''))) / 5
                AS BIGINT) AS n_indented_lines,
           (length(text) - length(replace(text, '```', ''))) / 3 >= 2
             AS has_code_fence
    FROM injected ORDER BY doc_id
    """,
)
def code_markdown_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit(_CODE_SNIPPET), F.col("text")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.col("text"), F.lit(_BRACE_SNIPPET)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    t = F.col("text")
    return injected.select(
        "doc_id",
        _count_lit(t, "```").alias("n_fence_markers"),
        _count_lit(t, "{").alias("n_open_braces"),
        _count_lit(t, ";").alias("n_semicolons"),
        _count_lit(t, "\n    ").alias("n_indented_lines"),
        (_count_lit(t, "```") >= 2).alias("has_code_fence"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Last-touch attribution: every purchase credited to the user's latest
# click at-or-before it, voided when the gap exceeds the 7-day attribution
# window. Composes the as-of join operator (one union + one window over the
# user_id partitioning — no range self-join); the window gate is a post-hoc
# CASE, exactly how DuckDB's ASOF + CASE expresses it.
# ---------------------------------------------------------------------------
_ATTR_WINDOW_S = 7 * 24 * 3600


@register(
    "attribution_last_touch",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
          WHERE event_type = 'click'),
    j AS (
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               c.click_id, epoch_us(p.ts) AS p_us, epoch_us(c.click_ts) AS c_us
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND c.click_ts <= p.ts
    )
    SELECT purchase_id, user_id,
           CASE WHEN c_us IS NOT NULL
                     AND (p_us - c_us) // 1000000 <= {_ATTR_WINDOW_S}
                THEN click_id END AS click_id,
           CASE WHEN c_us IS NOT NULL
                     AND (p_us - c_us) // 1000000 <= {_ATTR_WINDOW_S}
                THEN (p_us - c_us) // 1000000 END AS gap_s
    FROM j ORDER BY purchase_id
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    j = temporal.asof_join_backward(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_payload=["click_id", "click_ts"],
        tiebreak="click_id",
    )
    gap = F.expr("(unix_micros(ts) - unix_micros(asof_click_ts)) div 1000000")
    in_window = F.col("asof_click_ts").isNotNull() & (gap <= _ATTR_WINDOW_S)
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(in_window, F.col("asof_click_id")).alias("click_id"),
        F.when(in_window, gap).alias("gap_s"),
    ).orderBy("purchase_id")


# ---------------------------------------------------------------------------
# KMV join-cardinality estimate: |clickers ∩ viewers| from three mergeable
# KMV sketches via inclusion-exclusion (est_a + est_b - est_union) — the
# sketch-level pre-join sizing a planner does before committing a shuffle
# strategy. Every ingredient is deterministic md5 arithmetic, so BOTH the
# estimates and the verdict hash-match the oracle exactly; the sketches
# themselves are O(k) relations, mergeable hierarchically at 100 TB.
# ---------------------------------------------------------------------------
def _tag_pred(tag: str) -> str:
    return {
        "a": "= 'click'",
        "b": "= 'view'",
        "u": "IN ('click', 'view')",
    }[tag]


def _sql_kmv_est(tag: str) -> str:
    return f"""
        SELECT '{tag}' AS s, CASE WHEN COUNT(*) < {_KMV_K}
                    THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE ({_KMV_K} - 1.0)
                         / (CAST({_sql_hex12_to_bigint('MAX(hh)')} AS DOUBLE)
                            / {_KMV_SPACE!r}) END AS est
        FROM (SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS hh
              FROM events WHERE event_type {_tag_pred(tag)}
              ORDER BY hh LIMIT {_KMV_K})
    """


@register(
    "kmv_join_cardinality",
    oracle=f"""
    WITH ests AS (
        {_sql_kmv_est('a')} UNION ALL {_sql_kmv_est('b')} UNION ALL {_sql_kmv_est('u')}
    ),
    wide AS (
        SELECT MAX(CASE WHEN s = 'a' THEN est END) AS est_a,
               MAX(CASE WHEN s = 'b' THEN est END) AS est_b,
               MAX(CASE WHEN s = 'u' THEN est END) AS est_u
        FROM ests
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'view')
    )
    SELECT ROUND(est_a, 2) AS est_a, ROUND(est_b, 2) AS est_b,
           ROUND(est_u, 2) AS est_union,
           ROUND(est_a + est_b - est_u, 2) AS est_intersection,
           exact_intersection,
           ABS(est_a + est_b - est_u - exact_intersection)
             <= 0.5 * exact_intersection AS within_bound
    FROM wide, exact
    """,
)
def kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")

    def kmv_est(pred) -> DataFrame:
        # orderBy + limit plans as TakeOrderedAndProject over the distinct
        # fingerprint relation (k smallest of per-partition k smallest) —
        # no global sort, no single-partition window shuffle.
        h = (
            e.filter(pred)
            .select(F.md5(F.col("user_id").cast("string")).alias("hh"))
            .distinct()
        )
        sk = h.orderBy("hh").limit(_KMV_K).agg(
            F.max("hh").alias("kth"), F.count(F.lit(1)).alias("m")
        )
        kth_val = F.conv(F.substring("kth", 1, 12), 16, 10).cast("bigint")
        return sk.select(
            F.when(F.col("m") < _KMV_K, F.col("m").cast("double"))
            .otherwise(
                F.lit(_KMV_K - 1.0) / (kth_val.cast("double") / F.lit(_KMV_SPACE))
            )
            .alias("est")
        )

    ea = kmv_est(F.col("event_type") == "click").select(F.col("est").alias("est_a"))
    eb = kmv_est(F.col("event_type") == "view").select(F.col("est").alias("est_b"))
    eu = kmv_est(F.col("event_type").isin("click", "view")).select(
        F.col("est").alias("est_u")
    )
    clickers = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    viewers = e.filter(F.col("event_type") == "view").select("user_id").distinct()
    exact = clickers.intersect(viewers).agg(
        F.count(F.lit(1)).alias("exact_intersection")
    )
    wide = ea.crossJoin(eb).crossJoin(eu).crossJoin(exact)
    est_int = F.col("est_a") + F.col("est_b") - F.col("est_u")
    return wide.select(
        F.round("est_a", 2).alias("est_a"),
        F.round("est_b", 2).alias("est_b"),
        F.round("est_u", 2).alias("est_union"),
        F.round(est_int, 2).alias("est_intersection"),
        "exact_intersection",
        (
            F.abs(est_int - F.col("exact_intersection"))
            <= 0.5 * F.col("exact_intersection")
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# Graph analytics over the near-duplicate graph — the corpus-quality graph
# a curation run has ALREADY built (minhash pairs), analyzed one level
# deeper than connected components:
#
# - PageRank-style centrality ranks each document by how embedded it is in
#   duplication structure (a high-centrality doc is the "canonical" copy a
#   keep-best policy should prefer; cf. web-graph centrality in crawl
#   curation).
# - Triangle counts measure local clique-ness: a node in many triangles
#   sits inside a tight duplicate cluster, not a chain of borderline
#   matches — a different signal than component size.
#
# Both run entirely in integer arithmetic (nano-unit scores, BIGINT
# counts), so every iteration is order-free and cross-engine exact; the
# oracle composes the verified minhash-pairs SQL verbatim and unrolls the
# power iteration as chained CTEs (the BPE pattern).
# ---------------------------------------------------------------------------
_PR_ITERS = 3


def _pagerank_oracle(iters: int, pairs: str | None = None) -> str:
    """PageRank oracle over ANY verified-pairs SQL: the edge CTE composes
    the pairs query verbatim, so the capped variant differs from the
    uncapped one ONLY in which relation it composes — exactly like the
    Spark side."""
    if pairs is None:
        pairs = ORACLE["dedup_minhash_lsh"]
    parts = [
        f"e AS (SELECT id_a, id_b FROM ({pairs}))",
        """sym AS (
        SELECT id_a AS u, id_b AS v FROM e
        UNION ALL SELECT id_b AS u, id_a AS v FROM e
    )""",
        "deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)",
        """s0 AS (
        SELECT doc_id, 1000000000 // (SELECT n FROM nn) AS s FROM documents
    )""",
    ]
    for r in range(1, iters + 1):
        parts.append(
            f"""s{r} AS (
        SELECT d0.doc_id,
               (15 * (1000000000 // (SELECT n FROM nn))) // 100
               + COALESCE(agg.inflow, 0) AS s
        FROM documents d0
        LEFT JOIN (
            SELECT sym.v AS doc_id,
                   SUM((85 * (p.s // deg.d)) // 100) AS inflow
            FROM sym
            JOIN s{r - 1} p ON p.doc_id = sym.u
            JOIN deg ON deg.u = sym.u
            GROUP BY sym.v
        ) agg ON agg.doc_id = d0.doc_id
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT s{iters}.doc_id, CAST(s{iters}.s AS BIGINT) AS score_nano,
           CAST(COALESCE(deg.d, 0) AS BIGINT) AS degree
    FROM s{iters} LEFT JOIN deg ON deg.u = s{iters}.doc_id
    ORDER BY doc_id
    """
    )


def _pagerank_frame(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """3-round power iteration over a verified-pairs edge relation —
    shared by the uncapped and capped graph entries (the algorithm is
    edge-source-agnostic; only the pairs derivation differs)."""
    # ``pairs`` is a stored, lineage-truncated memo (std_/capped_minhash_
    # pairs): every power round re-scans the edge list, and each round's
    # compile stays O(1) in lineage depth because the edge list is a
    # leaf. Building that memo runs the minhash pipeline at plan-
    # CONSTRUCTION time (see store.truncate).
    e = pairs.select("id_a", "id_b")
    sym = e.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionAll(
        e.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    nodes = d.select("doc_id")
    n_docs = nodes.agg(F.count(F.lit(1)).alias("n"))
    init = F.expr("1000000000 div n")
    scores = nodes.crossJoin(F.broadcast(n_docs)).select(
        "doc_id", init.alias("s"), F.col("n")
    )
    base = F.expr("(15 * (1000000000 div n)) div 100")
    for _ in range(_PR_ITERS):
        inflow = (
            sym.join(scores.select(F.col("doc_id").alias("u"), "s"), "u")
            .join(deg, "u")
            .select(F.col("v").alias("doc_id"), F.expr("(85 * (s div d)) div 100").alias("c"))
            .groupBy("doc_id")
            .agg(F.sum("c").alias("inflow"))
        )
        # persist per-round scores: without it the final plan nests every
        # round's join chain (~2.4k-line tree, planning time dominates);
        # the persisted relation is O(nodes) — executor-cached and
        # spillable at any corpus size, never driver-side. The previous
        # round's (cached) scores ARE the node set, so no per-round
        # re-scan of the documents table is needed. (Round-13 probe: a
        # per-round eager checkpoint instead of this persist
        # shrank the compiled tree 738 -> 12 Exchanges but moved the
        # same jobs to construction time and measured SLOWER cold —
        # 2.5 s -> 4.1 s capped — so the persist stands.)
        scores = store.keep(
            scores.select("doc_id", "n")
            .join(inflow, "doc_id", "left")
            .select(
                "doc_id",
                (base + F.coalesce(F.col("inflow"), F.lit(0))).alias("s"),
                F.col("n"),
            )
        )
    return (
        scores.join(deg.withColumnRenamed("u", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("s").cast("long").alias("score_nano"),
            F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("degree"),
        )
        .orderBy("doc_id")
    )


@register(
    "graph_pagerank_neardup", shares=("minhash_trigram",),
    oracle=_pagerank_oracle(_PR_ITERS),
)
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round power iteration on the near-dup graph, integer nano-unit
    scores: contrib(u) = (85 * (s(u) // deg(u))) // 100, s'(v) = base +
    sum(contribs) — every operation is BIGINT, so accumulation order
    cannot move a bit and both engines agree exactly. Per round: one join
    of scores onto the (cached) symmetric edge list + one aggregate; the
    edge relation re-uses the session-cached minhash pairs, and score
    state is O(nodes), never materialized on the driver."""
    d = load_table(spark, sf_dir, "documents")
    return _pagerank_frame(d, std_minhash_pairs(spark, sf_dir))


def _triangle_oracle(pairs: str | None = None) -> str:
    if pairs is None:
        pairs = ORACLE["dedup_minhash_lsh"]
    return f"""
    WITH e AS (SELECT id_a, id_b FROM ({pairs})),
    tri AS (
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM e e1
        JOIN e e2 ON e2.id_a = e1.id_b
        JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    per_node AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
        GROUP BY doc_id
    )
    SELECT doc_id, n_triangles FROM per_node ORDER BY doc_id
    """


@register("graph_triangle_counts", shares=("minhash_trigram",), oracle=_triangle_oracle())
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the near-dup graph: canonical a<b<c
    enumeration (edges stored low<high, so the wedge join e1(a,b)⋈e2(b,c)
    plus the closing-edge semi-check emits each triangle once). Two
    equi-joins on the id columns of the (cached) pairs relation — at
    scale the standard degree-ordered orientation bounds the wedge join
    by sum(deg^2) of low-degree endpoints; near-dup graphs are
    clique-clustered, so wedges stay within clusters."""
    return _triangle_frame(std_minhash_pairs(spark, sf_dir))


def _triangle_frame(pairs: DataFrame) -> DataFrame:
    """Triangle enumeration over a verified-pairs edge relation — shared
    by the uncapped and capped graph entries."""
    # the wedge join scans the edge list three times in one plan; pairs
    # is a stored, lineage-truncated memo, so the three legs read one
    # materialization as a LEAF relation (without the cut each leg
    # embedded the whole minhash lineage: 1028 Exchange nodes / 649
    # scans in the compiled tree, round-13 probe)
    e = pairs.select("id_a", "id_b")
    e1 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    members = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return (
        members.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("doc_id")
    )


# The registered uncapped entries above analyze the graph a curation run
# builds from the RAW banded-LSH pairs; the quadratic skew hazard in that
# edge source (one degenerate band bucket of n docs emits O(n^2) pairs —
# 575M pairs from one 9,105-doc bucket measured at the sf100 probe) is
# exactly what dedup_minhash_lsh_capped's bucket cap removes. These
# variants are the 100 TB composition: the SAME graph algorithms over the
# CAPPED pair relation (bucket cap 50, unigram shingles — the
# dedup_minhash_lsh_capped parameters), with oracles composing the capped
# pairs SQL verbatim exactly as the uncapped oracles compose the uncapped
# SQL. Edge volume is linear in corpus size at the fixed cap, so the
# per-round score join / wedge join inherit that bound.
def _capped_pairs(spark: SparkSession, sf_dir: str):
    from .registry import capped_minhash_pairs

    d = load_table(spark, sf_dir, "documents")
    # round-14 (VERDICT-r13 #1): the capped pairs ride the session memo
    # shared with dedup_minhash_lsh_capped — before this, each capped
    # graph entry re-ran the capped LSH verify pipeline AND paid a
    # construction-time checkpoint of its full lineage
    # (graph_pagerank_neardup_capped: 6.3 s in-suite / 3.7 s warm at the
    # r14 baseline, the worst non-sink entry). The memo value is already
    # lineage-truncated, so _pagerank_frame/_triangle_frame read it as is.
    return d, capped_minhash_pairs(spark, sf_dir)


@register(
    "graph_pagerank_neardup_capped",
    oracle=_pagerank_oracle(_PR_ITERS, ORACLE["dedup_minhash_lsh_capped"]),
)
def graph_pagerank_neardup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the CAPPED near-dup pairs — the scale-safe
    edge source (linear pair volume at the fixed bucket cap); same
    integer-exact power iteration as graph_pagerank_neardup."""
    d, pairs = _capped_pairs(spark, sf_dir)
    return _pagerank_frame(d, pairs)


@register(
    "graph_triangle_counts_capped",
    oracle=_triangle_oracle(ORACLE["dedup_minhash_lsh_capped"]),
)
def graph_triangle_counts_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the CAPPED near-dup pairs — same
    wedge-join enumeration as graph_triangle_counts, edge volume bounded
    linear by the bucket cap."""
    _, pairs = _capped_pairs(spark, sf_dir)
    return _triangle_frame(pairs)


# ---------------------------------------------------------------------------
# Winsorized robust statistics: clip each event type's values at exact
# rank-based P5/P95 thresholds and report clip counts + the robust sum —
# the outlier-tolerant aggregate a metrics pipeline uses when raw sums are
# skew-dominated. Everything is BIGINT cents: thresholds are the k-th
# smallest values at integer ranks k_low = (n+19)//20, k_high =
# (19n+19)//20 (= CEIL(n/20), CEIL(19n/20) in pure integer arithmetic —
# no double percentile interpolation, so no cross-engine ulp boundary to
# flip a clip comparison). Shape: one per-type rank window + one join back
# + one aggregate; exact per-group ranking is the cost of exact
# percentiles — at 100 TB the approx_percentile_contract entry is the
# sketch-based scale path for the same decision.
# ---------------------------------------------------------------------------
@register(
    "winsorized_robust_stats",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
    ),
    r AS (
        SELECT event_type, c,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    th AS (
        SELECT event_type, MAX(n) AS n,
               MAX(CASE WHEN rn = (n + 19) // 20 THEN c END) AS th_low,
               MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN c END) AS th_high
        FROM r GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(MAX(th.n) AS BIGINT) AS n,
           MAX(th.th_low) AS th_low_cents,
           MAX(th.th_high) AS th_high_cents,
           CAST(SUM(CASE WHEN v.c < th.th_low THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN v.c > th.th_high THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           CAST(SUM(GREATEST(th.th_low, LEAST(th.th_high, v.c))) AS BIGINT)
             AS winsorized_sum_cents
    FROM v JOIN th ON th.event_type = v.event_type
    GROUP BY v.event_type ORDER BY v.event_type
    """,
)
def winsorized_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .core import _cents

    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type", _cents().alias("c"))
    w_rank = Window.partitionBy("event_type").orderBy("c")
    w_all = Window.partitionBy("event_type")
    r = v.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_all)
    )
    th = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("c"))).alias(
            "th_low"
        ),
        F.max(
            F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("c"))
        ).alias("th_high"),
    )
    clipped = F.greatest(F.col("th_low"), F.least(F.col("th_high"), F.col("c")))
    return (
        v.join(th, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("th_low").alias("th_low_cents"),
            F.max("th_high").alias("th_high_cents"),
            F.sum((F.col("c") < F.col("th_low")).cast("long")).alias("n_clipped_low"),
            F.sum((F.col("c") > F.col("th_high")).cast("long")).alias(
                "n_clipped_high"
            ),
            F.sum(clipped).alias("winsorized_sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity self-join (PPJoin family, Xiao et al.
# WWW'08): a THIRD candidate-generation strategy next to MinHash-LSH
# (probabilistic) and fixed-token blocking (heuristic). Set elements are
# word-3-gram shingles (the minhash family's granularity — single words
# over a small vocabulary make every pair "similar"); shingles are
# globally ordered by ascending document frequency, and a pair with
# Jaccard >= 0.5 MUST share an element within each side's first
# sz - ceil(sz/2) + 1 rarest shingles, so joining ONLY on prefix
# shingles is provably complete — and because prefixes hold the RAREST
# elements, the equi-join fans out least exactly where a naive token
# join explodes (high-df boilerplate shingles never enter the join).
# Prefix ranks use pure integer arithmetic ((sz+1)//2 = ceil(sz/2)), the
# df tiebreak is (df, shingle) lexicographic, and the final Jaccard is
# one division over exact integer counts — deterministic across engines
# and partitionings.
# ---------------------------------------------------------------------------
_PPJ_T = 0.5  # Jaccard threshold; prefix length = sz - ceil(t*sz) + 1


def _ppjoin_oracle() -> str:
    from .llm_ops import _SQL_SHINGLES3

    return rf"""
    WITH tok AS (
        SELECT doc_id, shingle AS t FROM ({_SQL_SHINGLES3})
    ),
    df AS (SELECT t, COUNT(*) AS df FROM tok GROUP BY t),
    ranked AS (
        SELECT tok.doc_id, tok.t,
               ROW_NUMBER() OVER (PARTITION BY tok.doc_id
                                  ORDER BY df.df, tok.t) AS rn,
               COUNT(*) OVER (PARTITION BY tok.doc_id) AS sz
        FROM tok JOIN df ON df.t = tok.t
    ),
    pref AS (
        SELECT doc_id, t, sz FROM ranked
        WHERE rn <= sz - (sz + 1) // 2 + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, a.sz AS sza,
                        b.doc_id AS id_b, b.sz AS szb
        FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id
    ),
    ov AS (
        SELECT c.id_a, c.id_b, c.sza, c.szb, COUNT(*) AS n_ov
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.id_a
        JOIN tok tb ON tb.doc_id = c.id_b AND tb.t = ta.t
        GROUP BY c.id_a, c.id_b, c.sza, c.szb
    )
    SELECT id_a, id_b,
           ROUND(n_ov * 1.0 / (sza + szb - n_ov), 6) AS jaccard
    FROM ov
    WHERE n_ov * 1.0 / (sza + szb - n_ov) >= {_PPJ_T}
    ORDER BY id_a, id_b
    """


def ppjoin_pairs_frame(d: DataFrame) -> DataFrame:
    """The PPJoin pipeline over an arbitrary documents frame (doc_id,
    text) — shared by the registered query (full corpus) and the sampled
    recall contract (plans/round6.py), so ground truth cannot drift
    between the two. Returns unordered (id_a, id_b, jaccard)."""
    from ..operators import dedup

    # the shingle relation feeds ranking AND both verify legs (3 scans in
    # one plan) — persist it; CacheManager dedupes with the minhash
    # family's identical shingle cache, so no extra footprint
    tok = store.keep(
        dedup.shingles(d, "doc_id", "text", n=3).withColumnRenamed("shingle", "t")
    )
    dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tok.join(dfreq, "t")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "t")),
        )
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    pref = ranked.filter(F.col("rn") <= F.expr("sz - (sz + 1) div 2 + 1")).select(
        "doc_id", "t", "sz"
    )
    a = pref.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"), "t")
    b = pref.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"), "t")
    cand = (
        a.join(b, "t")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "sza", "id_b", "szb")
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("id_a"), "t")
    tb = tok.select(F.col("doc_id").alias("id_b"), "t")
    ov = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "t"])
        .groupBy("id_a", "id_b", "sza", "szb")
        .agg(F.count(F.lit(1)).alias("n_ov"))
    )
    jac = F.col("n_ov") / (F.col("sza") + F.col("szb") - F.col("n_ov"))
    # persist the (tiny) verified pair set: the recall contract re-runs
    # this exact pipeline as its ground truth and CacheManager serves it
    # from this entry instead of re-joining
    return store.keep(
        ov.filter(jac >= _PPJ_T).select(
            "id_a", "id_b", F.round(jac, 6).alias("jaccard")
        )
    )


@register("ppjoin_prefix_similarity", shares=("minhash_trigram",), oracle=_ppjoin_oracle())
def ppjoin_prefix_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ppjoin_pairs_frame(d).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Dominant principal direction via integer power iteration — the PCA
# primitive an embedding-QA pipeline runs (SemDedup whitens with it;
# drift monitors track it). The covariance matrix is computed EXACTLY in
# scaled integers: vectors quantize to milli-units q = FLOOR(v*1000)
# (floor of an identical correctly-rounded double on both engines — no
# round-half rule exposure), and n²·Cov_jk = n·Σq_jq_k − Σq_j·Σq_k is
# exact BIGINT; dividing by n² once bounds every entry ~1e6 regardless
# of corpus size, so five matrix-vector rounds with milli-unit
# renormalization stay within int64 at ANY n. Negative-value division
# uses sign(y)·((|y|·1000) div m) — DuckDB's // floors while Spark's div
# truncates, and they only agree on non-negative operands. Shape: the
# 64×64 matrix relation broadcasts; each round is one 64-row join + one
# aggregate; the quadratic (j,k) expansion rides the posexplode'd
# component relation (n·d² rows map-side, partial-aggregated before the
# shuffle).
# ---------------------------------------------------------------------------
_PCA_ITERS = 5


def _pca_oracle(iters: int) -> str:
    parts = [
        """qi AS (
        SELECT vec_id, embedding AS e,
               unnest(generate_series(1, len(embedding))) AS j
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, j,
               CAST(FLOOR(CAST(e[j] AS DOUBLE) * 1000) AS BIGINT) AS q
        FROM qi
    )""",
        "nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM q)",
        "s AS (SELECT j, SUM(q) AS s FROM q GROUP BY j)",
        """p AS (
        SELECT a.j AS j, b.j AS k, SUM(a.q * b.q) AS p
        FROM q a JOIN q b ON a.vec_id = b.vec_id
        GROUP BY a.j, b.j
    )""",
        """m AS (
        SELECT p.j, p.k,
               ((SELECT n FROM nn) * p.p - sj.s * sk.s)
                 // ((SELECT n FROM nn) * (SELECT n FROM nn)) AS c
        FROM p JOIN s sj ON sj.j = p.j JOIN s sk ON sk.j = p.k
    )""",
        "x0 AS (SELECT j, CAST(1000 AS BIGINT) AS x FROM s)",
    ]
    for r in range(1, iters + 1):
        parts.append(
            f"""y{r} AS (
        SELECT m.j, SUM(m.c * x.x) AS y
        FROM m JOIN x{r - 1} x ON x.j = m.k
        GROUP BY m.j
    ),
    x{r} AS (
        SELECT y.j,
               CASE WHEN y.y < 0 THEN -1 ELSE 1 END
               * ((ABS(y.y) * 1000) // (SELECT MAX(ABS(y)) FROM y{r})) AS x
        FROM y{r} y
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT j AS dim, CAST(x AS BIGINT) AS eigvec_milli
    FROM x{iters} ORDER BY dim
    """
    )


@register("pca_power_iteration", oracle=_pca_oracle(_PCA_ITERS))
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # The n·d² outer-product sums are computed as Arrow-batched numpy
    # matmuls (Q^T·Q per batch, int64-exact — same quantization as the
    # oracle: floor(float64(v)·1000), identical IEEE ops), so executors
    # run BLAS instead of generating n·d² codegen rows, and the only
    # shuffle carries d²-sized integer partials per partition. This is
    # the deliberate pandas-UDF drop-down: a generator-based expansion of
    # the same sums was measured ~2× slower at sf0.1 and grows linearly
    # in n either way; the partials contract is what scales to 100 TB
    # (mergeable integer sums, O(d²) per partition crossing the wire).
    import pandas as _pd

    def _gram_partials(batches):
        import numpy as np

        d_dim, P, S, n_rows = None, None, None, 0
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1000
            ).astype(np.int64)
            if P is None:
                d_dim = Q.shape[1]
                P = np.zeros((d_dim, d_dim), dtype=np.int64)
                S = np.zeros(d_dim, dtype=np.int64)
            P += Q.T @ Q
            S += Q.sum(axis=0)
            n_rows += Q.shape[0]
        if n_rows == 0:
            return
        js, ks = np.indices((d_dim, d_dim))
        yield _pd.DataFrame(
            {
                "j": np.concatenate([js.ravel() + 1, np.arange(1, d_dim + 1), [-1]]),
                "k": np.concatenate([ks.ravel() + 1, np.full(d_dim, -1), [-1]]),
                "v": np.concatenate([P.ravel(), S, [n_rows]]),
            }
        )

    parts = emb.select("embedding").mapInPandas(_gram_partials, "j int, k int, v long")
    parts = store.keep(parts)
    nn = parts.filter(F.col("j") == -1).agg(F.sum("v").alias("n"))
    s = parts.filter((F.col("k") == -1) & (F.col("j") > 0)).groupBy("j").agg(
        F.sum("v").alias("s")
    )
    p = (
        parts.filter(F.col("k") > 0)
        .groupBy("j", "k")
        .agg(F.sum("v").alias("p"))
    )
    sj = s.select(F.col("j"), F.col("s").alias("s_j"))
    sk = s.select(F.col("j").alias("k"), F.col("s").alias("s_k"))
    # the d×d matrix is scanned once per power round — persist it so the
    # n·d² covariance aggregation runs once, not once per iteration
    # d² rows: coalesce to one partition so each power round schedules
    # one task against the cached matrix, not shuffle-partitions many
    m = store.keep(
        p.join(sj, "j")
        .join(sk, "k")
        .crossJoin(F.broadcast(nn))
        .select(
            "j",
            "k",
            F.expr("(n * p - s_j * s_k) div (n * n)").alias("c"),
        )
        .coalesce(1)
    )
    x = s.select("j", F.lit(1000).cast("long").alias("x"))
    for _ in range(_PCA_ITERS):
        # y is referenced twice per round (renorm + max); without a
        # persist each reference re-evaluates the whole chain of prior
        # rounds — 2^iters blowup. The persisted frame is d rows.
        y = store.keep(
            m.join(F.broadcast(x.select(F.col("j").alias("k"), "x")), "k")
            .groupBy("j")
            .agg(F.sum(F.col("c") * F.col("x")).alias("y"))
            .coalesce(1)
        )
        # renorm via a global window instead of a per-round scalar
        # broadcast: y is ALWAYS d rows (dimension-sized, never
        # data-sized), so the empty-frame window is bounded by design and
        # saves one broadcast-exchange job per power round
        from pyspark.sql.window import Window as _W

        x = y.withColumn(
            "mabs", F.max(F.abs(F.col("y"))).over(_W.partitionBy())
        ).select(
            "j",
            (
                F.when(F.col("y") < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.expr("(ABS(y) * 1000) div mabs")
            ).alias("x"),
        )
    return x.select(
        F.col("j").alias("dim"), F.col("x").cast("long").alias("eigvec_milli")
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# Data-quality expectation suite (Deequ/Great-Expectations shape): each
# expectation is one filter-count over the fact table, unioned into a
# (check, n_violations, n_rows, passed) report — the gate a pipeline
# evaluates before publishing a partition. ONE scan computes every check
# (conditional aggregates, no per-check scans); all counts are BIGINTs.
# ---------------------------------------------------------------------------
@register(
    "dq_expectation_checks",
    oracle="""
    WITH agg AS (
        SELECT COUNT(*) AS n_rows,
               SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user,
               SUM(CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END)
                 AS bad_value,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-01'
                         OR ts >= TIMESTAMP '2025-01-01' THEN 1 ELSE 0 END)
                 AS ts_out_of_range,
               SUM(CASE WHEN event_type NOT IN
                        ('click','view','purchase','signup','error')
                        THEN 1 ELSE 0 END) AS unknown_type,
               COUNT(*) - COUNT(DISTINCT event_id) AS dup_event_ids
        FROM events
    )
    SELECT c.check_name,
           CAST(c.n_violations AS BIGINT) AS n_violations,
           CAST(agg.n_rows AS BIGINT) AS n_rows,
           c.n_violations = 0 AS passed
    FROM agg, LATERAL (
        SELECT 'null_user_id' AS check_name, null_user AS n_violations
        UNION ALL SELECT 'negative_or_null_value', bad_value
        UNION ALL SELECT 'ts_out_of_range', ts_out_of_range
        UNION ALL SELECT 'unknown_event_type', unknown_type
        UNION ALL SELECT 'duplicate_event_ids', dup_event_ids
    ) c
    ORDER BY check_name
    """,
)
def dq_expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    agg = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("null_user"),
        F.sum((F.col("value").isNull() | (F.col("value") < 0)).cast("long")).alias(
            "bad_value"
        ),
        F.sum(
            (
                (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp"))
            ).cast("long")
        ).alias("ts_out_of_range"),
        F.sum(
            (~F.col("event_type").isin("click", "view", "purchase", "signup", "error"))
            .cast("long")
        ).alias("unknown_type"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("dup_event_ids"),
    )
    checks = [
        ("null_user_id", "null_user"),
        ("negative_or_null_value", "bad_value"),
        ("ts_out_of_range", "ts_out_of_range"),
        ("unknown_event_type", "unknown_type"),
        ("duplicate_event_ids", "dup_event_ids"),
    ]
    rows = None
    for name, col in checks:
        r = agg.select(
            F.lit(name).alias("check_name"),
            F.col(col).cast("long").alias("n_violations"),
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col(col) == 0).alias("passed"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("check_name")


# ---------------------------------------------------------------------------
# Linear multi-touch attribution: every click in the 7 days before a
# purchase shares the credit equally (FLOOR'd ppm so credit is integer-
# exact). Composes the bucketed range join (day-width time buckets; each
# click lands in one bucket, purchases explode across their window's
# buckets) — no unbounded time-range self-join ever forms.
# ---------------------------------------------------------------------------
@register(
    "attribution_linear_multi_touch",
    oracle=f"""
    WITH p AS (SELECT event_id AS purchase_id, user_id,
                      epoch_us(ts) AS p_us FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
          FROM events WHERE event_type = 'click'),
    touches AS (
        SELECT p.purchase_id, p.user_id, c.click_id
        FROM p JOIN c ON c.user_id = p.user_id
                     AND c.c_us >= p.p_us - {7 * 24 * 3600} * 1000000::BIGINT
                     AND c.c_us <= p.p_us
    )
    SELECT purchase_id,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(1000000 // COUNT(*) AS BIGINT) AS credit_ppm_each,
           CAST(MIN(click_id) AS BIGINT) AS first_click_id,
           CAST(MAX(click_id) AS BIGINT) AS last_click_id
    FROM touches GROUP BY purchase_id ORDER BY purchase_id
    """,
)
def attribution_linear_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1000000
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.expr("unix_micros(ts)").alias("p_us"),
    ).withColumn("lo", F.col("p_us") - 7 * day_us).withColumn("hi", F.col("p_us"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.expr("unix_micros(ts)").alias("c_us"),
    )
    joined = temporal.bucketed_range_join(
        p, c.withColumnRenamed("user_id", "c_user"), lo="lo", hi="hi", x="c_us",
        bucket_width=float(day_us),
    ).filter(F.col("user_id") == F.col("c_user"))
    return (
        joined.groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.expr("1000000 div count(1)").alias("credit_ppm_each"),
            F.min("click_id").alias("first_click_id"),
            F.max("click_id").alias("last_click_id"),
        )
        .orderBy("purchase_id")
    )


# ---------------------------------------------------------------------------
# Table profiling (Deequ-style column statistics): per column, row/null/
# distinct counts from ONE scan (conditional + distinct aggregates) — the
# metadata a catalog publishes with every partition. Numeric min/max are
# deliberately excluded from the report: cross-engine double-to-string
# formatting is not canonical, and the numeric profile lives in typed
# entries (percentile_stats, stats_aggregate_breadth).
# ---------------------------------------------------------------------------
@register(
    "profile_table_columns",
    oracle="""
    WITH agg AS (
        SELECT COUNT(*) AS n_rows,
               SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n0,
               COUNT(DISTINCT event_id) AS d0,
               SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS n1,
               COUNT(DISTINCT ts) AS d1,
               SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS n2,
               COUNT(DISTINCT user_id) AS d2,
               SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS n3,
               COUNT(DISTINCT event_type) AS d3,
               SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS n4,
               COUNT(DISTINCT value) AS d4,
               SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS n5,
               COUNT(DISTINCT props) AS d5
        FROM events
    )
    SELECT c.col_name, CAST(agg.n_rows AS BIGINT) AS n_rows,
           CAST(c.n_nulls AS BIGINT) AS n_nulls,
           CAST(c.n_distinct AS BIGINT) AS n_distinct
    FROM agg, LATERAL (
        SELECT 'event_id' AS col_name, n0 AS n_nulls, d0 AS n_distinct
        UNION ALL SELECT 'ts', n1, d1
        UNION ALL SELECT 'user_id', n2, d2
        UNION ALL SELECT 'event_type', n3, d3
        UNION ALL SELECT 'value', n4, d4
        UNION ALL SELECT 'props', n5, d5
    ) c
    ORDER BY col_name
    """,
)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"n{i}"))
        aggs.append(F.countDistinct(c).alias(f"d{i}"))
    agg = e.agg(*aggs)
    rows = None
    for i, c in enumerate(cols):
        r = agg.select(
            F.lit(c).alias("col_name"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col(f"n{i}").cast("long").alias("n_nulls"),
            F.col(f"d{i}").cast("long").alias("n_distinct"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("col_name")


# ---------------------------------------------------------------------------
# Conversion rate with a Wilson 95% interval, per day: of the users who
# clicked that day, how many also purchased that day — with the interval
# an experimentation readout needs before trusting a small-n day. The
# Wilson chain is ONE shared IEEE expression over exact integer (k, n)
# aggregates — identical text on both engines, so the doubles match to
# the rounded digit (the repo's standard float discipline). Shape: one
# (day, user) dedup aggregate + one day aggregate; the interval math is
# scalar per day row.
# ---------------------------------------------------------------------------
_WILSON_Z = "1.959963984540054e0"  # z_{0.975}; e-notation forces DOUBLE in
# DuckDB too (a bare decimal literal parses as DECIMAL there and the
# mixed decimal/double chain drifts at the 5th digit)


@register(
    "conversion_wilson_by_day",
    oracle=f"""
    WITH du AS (
        SELECT CAST(ts AS DATE) AS d, user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
        FROM events GROUP BY d, user_id
    ),
    day AS (
        SELECT d,
               SUM(clicked) AS n,
               SUM(CASE WHEN clicked = 1 AND purchased = 1 THEN 1 ELSE 0 END) AS k
        FROM du GROUP BY d
    )
    SELECT d,
           CAST(n AS BIGINT) AS n_clickers,
           CAST(k AS BIGINT) AS n_converted,
           ROUND(k * 1e0 / n, 6) AS rate,
           ROUND((k * 1e0 / n + {_WILSON_Z} * {_WILSON_Z} / (2e0 * n)
                  - {_WILSON_Z} * sqrt((k * 1e0 / n) * (1e0 - k * 1e0 / n) / n
                                       + {_WILSON_Z} * {_WILSON_Z} / (4e0 * n * n)))
                 / (1e0 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_lo,
           ROUND((k * 1e0 / n + {_WILSON_Z} * {_WILSON_Z} / (2e0 * n)
                  + {_WILSON_Z} * sqrt((k * 1e0 / n) * (1e0 - k * 1e0 / n) / n
                                       + {_WILSON_Z} * {_WILSON_Z} / (4e0 * n * n)))
                 / (1e0 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_hi
    FROM day WHERE n > 0 ORDER BY d
    """,
)
def conversion_wilson_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    du = (
        e.groupBy(F.col("ts").cast("date").alias("d"), "user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("clicked"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("purchased"),
        )
    )
    day = du.groupBy("d").agg(
        F.sum("clicked").alias("n"),
        F.sum(((F.col("clicked") == 1) & (F.col("purchased") == 1)).cast("int")).alias(
            "k"
        ),
    )
    z = _WILSON_Z
    p_hat = "k * 1e0 / n"
    half = f"{z} * sqrt(({p_hat}) * (1.0 - {p_hat}) / n + {z} * {z} / (4e0 * n * n))"
    center = f"{p_hat} + {z} * {z} / (2e0 * n)"
    denom = f"1e0 + {z} * {z} / n"
    return (
        day.filter(F.col("n") > 0)
        .select(
            "d",
            F.col("n").cast("long").alias("n_clickers"),
            F.col("k").cast("long").alias("n_converted"),
            F.round(F.expr(p_hat), 6).alias("rate"),
            F.round(F.expr(f"(({center}) - ({half})) / ({denom})"), 6).alias(
                "wilson_lo"
            ),
            F.round(F.expr(f"(({center}) + ({half})) / ({denom})"), 6).alias(
                "wilson_hi"
            ),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users by day (the "total accounts ever seen" curve):
# distinct-by-first-appearance turns an O(days × users) rolling-distinct
# into ONE per-user min + a window over the (tiny) per-day relation —
# the standard trick that makes lifetime-reach queries scale.
# ---------------------------------------------------------------------------
@register(
    "cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    per_day AS (
        SELECT d0 AS d, COUNT(*) AS n_new FROM first_seen GROUP BY d0
    )
    SELECT d, CAST(n_new AS BIGINT) AS n_new_users,
           CAST(SUM(n_new) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM per_day ORDER BY d
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    per_day = first_seen.groupBy(F.col("d0").alias("d")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "d",
        F.col("n_new").cast("long").alias("n_new_users"),
        F.sum("n_new").over(w).cast("long").alias("cumulative_users"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# Window value-function breadth: FIRST_VALUE / LAST_VALUE (with and
# without IGNORE NULLS), NTH_VALUE, LEAD/LAG with defaults — the family's
# remaining members beyond the rank functions already pinned. One window
# spec -> one sort; the synthetic NULL injection (every 3rd value) makes
# the ignore-nulls semantics observable in the hash.
# ---------------------------------------------------------------------------
@register(
    "window_value_functions_breadth",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id,
               CASE WHEN event_id % 3 = 0 THEN NULL
                    ELSE CAST(ROUND(value * 100) AS BIGINT) END AS c
        FROM events WHERE event_type = 'click' AND user_id < 40
    )
    SELECT user_id, event_id, c,
           FIRST_VALUE(c) OVER w AS first_raw,
           FIRST_VALUE(c IGNORE NULLS) OVER w AS first_nn,
           LAST_VALUE(c) OVER w AS last_raw,
           LAST_VALUE(c IGNORE NULLS) OVER w AS last_nn,
           NTH_VALUE(c, 2) OVER w AS second_val,
           LEAD(c, 1, -1) OVER (PARTITION BY user_id ORDER BY event_id)
             AS next_or_neg1,
           LAG(c, 2, -2) OVER (PARTITION BY user_id ORDER BY event_id)
             AS prev2_or_neg2
    FROM v
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY user_id, event_id
    """,
)
def window_value_functions_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.filter((F.col("event_type") == "click") & (F.col("user_id") < 40)).select(
        "user_id",
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0, F.lit(None).cast("long")
        ).otherwise(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wseq = Window.partitionBy("user_id").orderBy("event_id")
    return v.select(
        "user_id",
        "event_id",
        "c",
        F.first("c").over(w).alias("first_raw"),
        F.first("c", ignorenulls=True).over(w).alias("first_nn"),
        F.last("c").over(w).alias("last_raw"),
        F.last("c", ignorenulls=True).over(w).alias("last_nn"),
        F.nth_value("c", 2).over(w).alias("second_val"),
        F.lead("c", 1, -1).over(wseq).alias("next_or_neg1"),
        F.lag("c", 2, -2).over(wseq).alias("prev2_or_neg2"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Passage-dedup REWRITE (the transform counterpart of passage_exact_dedup,
# C4-style): every passage occurrence except the corpus-FIRST (min
# (doc_id, position)) is dropped, and each document is reassembled from
# its surviving passages in order. Documents are covered completely
# (ceil(n/20) windows — the tail window is shorter). The output row is
# (doc_id, n_passages, n_removed, md5(rebuilt)) so the full rewritten
# text is hash-verified without shuffling bodies to the driver. Shape:
# one explode, one first-occurrence window on the digest (32-byte keys),
# one per-doc ordered reassembly — passage text shuffles ONCE (to its
# digest's partition and back by doc).
# ---------------------------------------------------------------------------
@register(
    "passage_dedup_rewrite",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
    ),
    idx AS (
        SELECT doc_id, ws,
               unnest(generate_series(1, (len(ws) + {_PASSAGE_W} - 1)
                                         // {_PASSAGE_W})) AS i
        FROM ws WHERE len(ws) >= 1
    ),
    p AS (
        SELECT doc_id, i,
               array_to_string(list_slice(ws, (i - 1) * {_PASSAGE_W} + 1,
                                          i * {_PASSAGE_W}), ' ') AS passage
        FROM idx
    ),
    ranked AS (
        SELECT doc_id, i, passage,
               ROW_NUMBER() OVER (PARTITION BY md5(passage)
                                  ORDER BY doc_id, i) AS occ
        FROM p
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(COALESCE(string_agg(CASE WHEN occ = 1 THEN passage END,
                                   ' ' ORDER BY i), '')) AS clean_md5
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
)
def passage_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", text.words(F.col("text")).alias("ws")).filter(
        F.size("ws") >= 1
    )
    p = ws.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1),
                F.expr(f"(size(ws) + {_PASSAGE_W} - 1) div {_PASSAGE_W}").cast("int"),
            )
        ).alias("i"),
        "ws",
    ).select(
        "doc_id",
        "i",
        F.concat_ws(
            " ", F.slice(F.col("ws"), (F.col("i") - 1) * _PASSAGE_W + 1, _PASSAGE_W)
        ).alias("passage"),
    )
    occ_w = Window.partitionBy(F.md5("passage")).orderBy("doc_id", "i")
    ranked = p.withColumn("occ", F.row_number().over(occ_w))
    # ordered reassembly without an ordered string_agg: sort (i, passage)
    # structs, then join the surviving texts — all JVM-side array lambdas
    # round 13: project the struct field with GetArrayStructFields
    # (codegen) instead of a transform lambda (interpreted eval)
    kept = F.array_join(
        F.array_sort(
            F.collect_list(
                F.when(F.col("occ") == 1, F.struct("i", "passage"))
            ),
        ).getField("passage"),
        " ",
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum((F.col("occ") > 1).cast("long")).alias("n_removed"),
            F.md5(kept).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# LSH recall contract: the MinHash-LSH near-dup path is probabilistic —
# this entry MEASURES its recall against the exact prefix-filtered
# ground truth (ppjoin_prefix_similarity is provably complete for
# Jaccard >= 0.5) and pins the verdict. Both sides are deterministic, so
# the recall itself hash-checks; at 8 hashes / 4 bands the banding curve
# puts P(candidate | J >= 0.5) high enough that observed recall is 1.0
# at every SF (verified 0.001/0.01/0.1) — the pinned bound of >= 90% ppm
# leaves room for band-boundary flutter at other corpora. The accuracy-
# contract pattern (exact + pinned verdict) is how this repo hash-checks
# every approximate operator.
# ---------------------------------------------------------------------------
def _lsh_recall_oracle() -> str:
    from .llm_ops import _SQL_SHINGLES3  # noqa: F401  (via composed oracles)

    exact = _ppjoin_oracle()
    lsh = ORACLE["dedup_minhash_lsh"]
    return f"""
    WITH exact_pairs AS (SELECT id_a, id_b FROM ({exact})),
    lsh_pairs AS (SELECT id_a, id_b FROM ({lsh})),
    hit AS (
        SELECT COUNT(*) AS n_hit FROM exact_pairs e
        WHERE EXISTS (SELECT 1 FROM lsh_pairs l
                      WHERE l.id_a = e.id_a AND l.id_b = e.id_b)
    ),
    tot AS (SELECT COUNT(*) AS n_true FROM exact_pairs)
    SELECT CAST(tot.n_true AS BIGINT) AS n_true_pairs,
           CAST(hit.n_hit AS BIGINT) AS n_lsh_found,
           CAST(FLOOR(hit.n_hit * 1000000.0 / NULLIF(tot.n_true, 0)) AS BIGINT)
             AS recall_ppm,
           hit.n_hit * 1000000.0 / NULLIF(tot.n_true, 0) >= 900000 AS recall_ok
    FROM hit, tot
    """


def recall_summary(exact: DataFrame, lsh: DataFrame) -> DataFrame:
    """Shared recall-verdict tail of both LSH recall contracts (full and
    sampled): hit/true counts -> ppm + pinned >=90% verdict. Living in
    one place means the bound and the ppm arithmetic cannot drift
    between the full-corpus and sampled variants."""
    hit = exact.join(lsh, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    tot = exact.agg(F.count(F.lit(1)).alias("n_true"))
    denom = F.nullif(F.col("n_true"), F.lit(0))
    return hit.crossJoin(tot).select(
        F.col("n_true").cast("long").alias("n_true_pairs"),
        F.col("n_hit").cast("long").alias("n_lsh_found"),
        F.floor(F.col("n_hit") * F.lit(1000000.0) / denom)
        .cast("long")
        .alias("recall_ppm"),
        (F.col("n_hit") * F.lit(1000000.0) / denom >= 900000).alias("recall_ok"),
    )


@register("lsh_recall_contract", shares=("minhash_trigram",), oracle=_lsh_recall_oracle())
def lsh_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # same (id_a, id_b) subtree the graph-analytics queries persist —
    # CacheManager serves one shared entry across all of them
    lsh = std_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    exact = ppjoin_prefix_similarity(spark, sf_dir).select("id_a", "id_b")
    return recall_summary(exact, lsh)


# ---------------------------------------------------------------------------
# BPE APPLY (the encode half of the tokenizer round-trip; bpe_learn_merges
# is the train half): re-encode the corpus vocabulary with the learned
# merge list and report the 20 most frequent words' encodings + token
# counts. The merge list is O(model) (5 rows collected — the k-means
# centroid pattern); application is the same double scan-left replace the
# learner uses, so learner and encoder can never drift. The oracle chains
# the identical 5 unrolled merge rounds (BPE-oracle pattern) and carries
# the word key through every round.
# ---------------------------------------------------------------------------
def _bpe_apply_oracle(rounds: int, k: int = 20) -> str:
    parts = [
        r"""w0 AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
               ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS w
              FROM documents)
        GROUP BY w
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""p{r} AS (
        SELECT p.l AS l, p.r AS r, SUM(n) AS pair_count FROM (
            SELECT n, unnest(list_transform(generate_series(1, len(t) - 1),
                             i -> {{'l': t[i], 'r': t[i + 1]}})) AS p
            FROM (SELECT n, string_split(trim(seq), ' ') AS t FROM w{r - 1})
            WHERE len(t) >= 2)
        GROUP BY p.l, p.r
    ),
    b{r} AS (
        SELECT l, r FROM p{r}
        ORDER BY pair_count DESC, l, r LIMIT 1
    ),
    w{r} AS (
        SELECT w, n, replace(replace(seq, ' ' || l || ' ' || r || ' ',
                                     ' ' || l || r || ' '),
                             ' ' || l || ' ' || r || ' ',
                             ' ' || l || r || ' ') AS seq
        FROM w{r - 1} CROSS JOIN b{r}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT w AS word, n, trim(seq) AS encoded,
           CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_tokens
    FROM w{rounds} ORDER BY n DESC, w LIMIT {k}
    """
    )


@register("bpe_apply_encode", shares=("bpe_words",), oracle=_bpe_apply_oracle(5))
def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe
    from .round3 import word_freq_shared

    # the session-shared word-frequency relation (one cache entry with
    # bpe_learn_merges, this entry's shares-adjacent predecessor)
    wx = word_freq_shared(spark, sf_dir)
    merges = bpe.bpe_learn_merges(wx, "w", "n", n_merges=5).collect()  # O(model)
    enc = wx.select("w", "n", bpe.spell(F.col("w")).alias("seq"))
    for m in sorted(merges, key=lambda r: r["merge_rank"]):
        pat = F.lit(f" {m['left_sym']} {m['right_sym']} ")
        rep = F.lit(f" {m['left_sym']}{m['right_sym']} ")
        enc = enc.withColumn(
            "seq", F.replace(F.replace(F.col("seq"), pat, rep), pat, rep)
        )
    return (
        enc.select(
            F.col("w").alias("word"),
            F.col("n").cast("long").alias("n"),
            F.trim(F.col("seq")).alias("encoded"),
            F.size(F.split(F.trim(F.col("seq")), " ")).cast("long").alias("n_tokens"),
        )
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Interpolated bigram LM quality score (the KenLM-lite upgrade of
# doc_unigram_logprob): t = -ln(0.7·p_bi + 0.3·p_uni) per transition,
# add-one smoothed, each term ROUND'd to nano-nats BEFORE the per-doc sum
# (order-free BIGINT). Interpolation constants are e-notation literals
# (7e-1/3e-1 — DuckDB parses bare decimals as DECIMAL and drifts). The
# bigram model relation is vocab²-bounded but sparse (observed bigrams
# only) and joins by key — no cross join of the vocabulary ever forms.
# ---------------------------------------------------------------------------
@register(
    "doc_bigram_interp_logprob",
    oracle=r"""
    WITH ws AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                                   w -> w <> '') AS ws
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                      i -> {'a': ws[i], 'b': ws[i + 1]})) AS p
        FROM ws WHERE len(ws) >= 2
    ),
    wx AS (SELECT doc_id, unnest(ws) AS w FROM ws),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM wx GROUP BY w),
    bi AS (SELECT p.a AS a, p.b AS b, CAST(COUNT(*) AS BIGINT) AS c2
           FROM bg GROUP BY p.a, p.b),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM wx),
    scored AS (
        SELECT bg.doc_id,
               CAST(ROUND(-ln(7e-1 * (bi.c2 + 1e0) / (ua.c1 + tot.v)
                              + 3e-1 * (ub.c1 + 1e0) / (tot.n + tot.v))
                          * 1000000000, 0) AS BIGINT) AS t_nano
        FROM bg
        JOIN uni ua ON ua.w = bg.p.a
        JOIN uni ub ON ub.w = bg.p.b
        JOIN bi ON bi.a = bg.p.a AND bi.b = bg.p.b
        CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(FLOOR(SUM(t_nano) / (COUNT(*) * 1000000.0)) AS BIGINT)
             AS nll_avg_milli
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_bigram_interp_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .round3 import _docs_words

    ws = _docs_words(spark, sf_dir).select("doc_id", "ws").filter(F.size("ws") >= 2)
    bg = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(element_at(ws, i) AS a, element_at(ws, i + 1) AS b))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    wx = _docs_words(spark, sf_dir).select("doc_id", F.explode("ws").alias("w"))
    uni = wx.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    bi = bg.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    tot = wx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("w").cast("long").alias("v"),
    )
    t_nano = F.round(
        -F.log(
            F.expr("7e-1") * (F.col("c2") + F.expr("1e0")) / (F.col("c1_a") + F.col("v"))
            + F.expr("3e-1") * (F.col("c1_b") + F.expr("1e0")) / (F.col("n") + F.col("v"))
        )
        * 1000000000,
        0,
    ).cast("long")
    return (
        bg.join(F.broadcast(uni.select(F.col("w").alias("a"), F.col("c1").alias("c1_a"))), "a")
        .join(F.broadcast(uni.select(F.col("w").alias("b"), F.col("c1").alias("c1_b"))), "b")
        .join(bi, ["a", "b"])
        .crossJoin(F.broadcast(tot))
        .select("doc_id", t_nano.alias("t_nano"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.floor(F.sum("t_nano") / (F.count(F.lit(1)) * 1000000.0))
            .cast("long")
            .alias("nll_avg_milli"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Dataset card summary — the ONE-row corpus overview a dataset release
# ships (docs/tokens/langs/sources, duplication, length stats, dominant
# language share). Every number comes from two scans (docs, tokens) of
# conditional/distinct aggregates; ratios are FLOOR'd ppm/milli BIGINTs.
# ---------------------------------------------------------------------------
@register(
    "dataset_card_summary",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang, source,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               len(list_filter(string_split_regex(lower(text), '\s+'),
                               w -> w <> '')) AS n_words
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups,
           CAST(FLOOR((COUNT(*) - COUNT(DISTINCT fp)) * 1000000.0
                      / NULLIF(COUNT(*), 0)) AS BIGINT) AS dup_ppm,
           CAST(FLOOR(SUM(n_words) * 1000.0 / NULLIF(COUNT(*), 0)) AS BIGINT)
             AS mean_words_milli,
           CAST(MIN(n_words) AS BIGINT) AS min_words,
           CAST(MAX(n_words) AS BIGINT) AS max_words,
           CAST(FLOOR(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      * 1000000.0 / NULLIF(COUNT(*), 0)) AS BIGINT)
             AS en_share_ppm
    FROM t
    """,
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))).alias(
            "fp"
        ),
        F.size(text.words(F.col("text"))).alias("n_words"),
    )
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("long").alias("n_exact_dups"),
        F.floor(
            (F.count(F.lit(1)) - F.countDistinct("fp"))
            * F.lit(1000000.0)
            / F.nullif(F.count(F.lit(1)), F.lit(0))
        )
        .cast("long")
        .alias("dup_ppm"),
        F.floor(
            F.sum("n_words") * F.lit(1000.0) / F.nullif(F.count(F.lit(1)), F.lit(0))
        )
        .cast("long")
        .alias("mean_words_milli"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
        F.floor(
            F.sum((F.col("lang") == "en").cast("long"))
            * F.lit(1000000.0)
            / F.nullif(F.count(F.lit(1)), F.lit(0))
        )
        .cast("long")
        .alias("en_share_ppm"),
    )


# ---------------------------------------------------------------------------
# Z-order clustering keys (the OPTIMIZE ZORDER primitive): interleave the
# bits of (user_id, day) so rows near each other in EITHER dimension land
# in the same file bucket — the write-layout op that lets zonemap
# data-skipping prune on BOTH columns instead of one. The query computes
# the 8+8-bit interleave in pure integer arithmetic (identical on both
# engines), buckets rows by the top byte of the z-key (≈ a target file),
# and reports each bucket's (user, day) bounding box — the zonemap a
# scan would skip on. Narrow per-bucket spans on both dimensions ARE the
# proof the layout works; a single-column sort gives narrow spans on one
# dimension only.
# ---------------------------------------------------------------------------
def _sql_interleave8(a: str, b: str) -> str:
    """Interleave the low 8 bits of a (even positions) and b (odd)."""
    terms = []
    for i in range(8):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@register(
    "zorder_layout_buckets",
    oracle=f"""
    WITH t AS (
        SELECT user_id % 256 AS u,
               CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) % 256 AS d
        FROM events
    ),
    z AS (
        SELECT u, d, {_sql_interleave8('u', 'd')} AS zkey FROM t
    )
    SELECT zkey // 256 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(u) AS BIGINT) AS u_min, CAST(MAX(u) AS BIGINT) AS u_max,
           CAST(MIN(d) AS BIGINT) AS d_min, CAST(MAX(d) AS BIGINT) AS d_max,
           CAST(MAX(u) - MIN(u) AS BIGINT) AS u_span,
           CAST(MAX(d) - MIN(d) AS BIGINT) AS d_span
    FROM z GROUP BY bucket ORDER BY bucket
    """,
)
def zorder_layout_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        (F.col("user_id") % 256).alias("u"),
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT) % 256"
        ).alias("d"),
    )
    z = t.withColumn("zkey", F.expr(_sql_interleave8("u", "d")))
    return (
        z.groupBy(F.expr("zkey div 256").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
            (F.max("u") - F.min("u")).alias("u_span"),
            (F.max("d") - F.min("d")).alias("d_span"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Containment near-dup pairs: |A∩B| / |A| over shingle sets — the
# ASYMMETRIC complement of Jaccard. A short document wholly quoted inside
# a long one has tiny Jaccard (the union is dominated by the long doc)
# but containment ≈ 1; quote-inclusion and boilerplate-wrapping dupes are
# exactly what symmetric measures miss. Candidates ride the SAME banded
# LSH equi-join as the Jaccard path (a contained doc shares its minhash
# bands with its container with high probability); the verify step just
# divides by |A| instead of the union. Emitted per ORDERED pair (small
# side first), FLOOR'd ppm.
# ---------------------------------------------------------------------------
def _containment_oracle() -> str:
    from .llm_ops import _SQL_SHINGLES3

    return f"""
    WITH sh AS ({_SQL_SHINGLES3}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    cand AS (SELECT id_a, id_b FROM ({ORACLE["dedup_minhash_lsh"]})),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(FLOOR(i.n_inter * 1000000.0
                      / LEAST(na.n, nb.n)) AS BIGINT) AS containment_ppm,
           CAST(LEAST(na.n, nb.n) AS BIGINT) AS small_size,
           CAST(GREATEST(na.n, nb.n) AS BIGINT) AS large_size
    FROM inter i
    JOIN sizes na ON na.doc_id = i.id_a
    JOIN sizes nb ON nb.doc_id = i.id_b
    WHERE i.n_inter * 1000000.0 / LEAST(na.n, nb.n) >= 800000
    ORDER BY id_a, id_b
    """


@register("containment_near_dup", oracle=_containment_oracle())
def containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    d = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(d, "doc_id", "text", n=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    cand = (
        std_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    )
    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    small = F.least(F.col("n_a"), F.col("n_b"))
    cont = F.col("n_inter") * F.lit(1000000.0) / small
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(cont >= 800000)
        .select(
            "id_a",
            "id_b",
            F.floor(cont).cast("long").alias("containment_ppm"),
            small.cast("long").alias("small_size"),
            F.greatest(F.col("n_a"), F.col("n_b")).cast("long").alias("large_size"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Robust z-scores via median absolute deviation: per event type, the
# exact median (rank-based, same integer-rank discipline as the winsorize
# thresholds) and MAD = median(|x - median|); each value's robust score
# is FLOOR'd milli-units of 0.6745·|x-med|/MAD. Medians of BIGINT cents
# at integer ranks — no interpolation ulp exposure; only the final scale
# chain is a shared IEEE expression. Per-type output keeps the report
# small (value rows stay distributed).
# ---------------------------------------------------------------------------
@register(
    "robust_mad_outlier_counts",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
    ),
    med AS (
        SELECT event_type, c AS median_cents FROM (
            SELECT event_type, c,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM v)
        WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT v.event_type, v.c, ABS(v.c - m.median_cents) AS ad,
               m.median_cents
        FROM v JOIN med m ON m.event_type = v.event_type
    ),
    mad AS (
        SELECT event_type, ad AS mad_cents FROM (
            SELECT event_type, ad,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM dev)
        WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(MAX(d.median_cents) AS BIGINT) AS median_cents,
           CAST(MAX(m.mad_cents) AS BIGINT) AS mad_cents,
           CAST(SUM(CASE WHEN 6745e-4 * d.ad / NULLIF(m.mad_cents, 0) > 3e0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def robust_mad_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .core import _cents

    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type", _cents().alias("c"))

    def exact_median(df, col, out):
        w_rank = Window.partitionBy("event_type").orderBy(col)
        w_all = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w_rank))
            .withColumn("n", F.count(F.lit(1)).over(w_all))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = exact_median(v, "c", "median_cents")
    dev = v.join(med, "event_type").select(
        "event_type",
        "c",
        F.abs(F.col("c") - F.col("median_cents")).alias("ad"),
        "median_cents",
    )
    mad = exact_median(dev.select("event_type", F.col("ad").alias("c")), "c", "mad_cents")
    score_gt3 = (
        F.expr("6745e-4") * F.col("ad") / F.nullif(F.col("mad_cents"), F.lit(0))
        > F.expr("3e0")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("median_cents").cast("long").alias("median_cents"),
            F.max("mad_cents").cast("long").alias("mad_cents"),
            F.sum(score_gt3.cast("long")).alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary): classic user
# value-tiering — per user: days since last purchase, purchase count,
# exact cents total, quintile scores via NTILE with the (value, user_id)
# deterministic tiebreak, and the composite segment label. One user
# aggregate + three small windows over the per-user relation.
# ---------------------------------------------------------------------------
@register(
    "rfm_user_segments",
    oracle="""
    WITH p AS (
        SELECT user_id,
               CAST(DATE '2024-02-01' - MAX(CAST(ts AS DATE)) AS BIGINT)
                 AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS monetary_cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, recency_days, frequency, monetary_cents,
               NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
               NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
               NTILE(5) OVER (ORDER BY monetary_cents, user_id) AS m_score
        FROM p
    )
    SELECT CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents,
           CAST(MIN(user_id) AS BIGINT) AS sample_user
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .core import _cents

    e = load_table(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.expr("CAST(datediff(DATE '2024-02-01', MAX(CAST(ts AS DATE))) AS BIGINT)").alias(
                "recency_days"
            ),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(_cents()).cast("long").alias("monetary_cents"),
        )
    )
    scored = p.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(Window.orderBy(F.desc("recency_days"), F.col("user_id"))).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary_cents", "user_id")).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
            F.min("user_id").cast("long").alias("sample_user"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# Multiset set operations: INTERSECT ALL / EXCEPT ALL keep per-row
# multiplicity (min / truncated difference of duplicate counts) — the
# bag semantics reconciliation jobs need (e.g. "how many event rows per
# user survive in both snapshots"), distinct from the set-semantics entry
# (`set_operations`). Count-only output keeps the compare stable.
# ---------------------------------------------------------------------------
@register(
    "set_operations_all",
    oracle="""
    SELECT 'clicks_intersect_all_views' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM
      (SELECT user_id FROM events WHERE event_type = 'click'
       INTERSECT ALL
       SELECT user_id FROM events WHERE event_type = 'view')
    UNION ALL
    SELECT 'clicks_except_all_purchases' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM
      (SELECT user_id FROM events WHERE event_type = 'click'
       EXCEPT ALL
       SELECT user_id FROM events WHERE event_type = 'purchase')
    ORDER BY op
    """,
)
def set_operations_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    views = e.filter(F.col("event_type") == "view").select("user_id")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id")
    ia = clicks.intersectAll(views).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("clicks_intersect_all_views").alias("op"), F.col("n").cast("long")
    )
    ea = clicks.exceptAll(purchases).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("clicks_except_all_purchases").alias("op"), F.col("n").cast("long")
    )
    return ia.unionAll(ea).orderBy("op")


# ---------------------------------------------------------------------------
# Higher-order-function breadth, part 2: EXISTS / FORALL predicates and
# ZIP_WITH over the embedding arrays — the remaining JVM-side array
# lambdas beyond transform/filter/aggregate (array_higher_order_breadth).
# All comparisons are against exact float literals, so booleans and the
# integer zip result hash-match.
# ---------------------------------------------------------------------------
@register(
    "array_hof_breadth_2",
    oracle="""
    SELECT vec_id,
           len(embedding) = 64 AS right_dim,
           list_has_any(list_transform(embedding, v -> v > 0.5), [TRUE])
             AS any_gt_half,
           NOT list_has_any(list_transform(embedding, v -> NOT (v > -1.0)), [TRUE])
             AS all_gt_neg1,
           CAST(list_sum(list_transform(
               list_zip(embedding, list_reverse(embedding)),
               p -> CASE WHEN CAST(p[1] AS DOUBLE) > CAST(p[2] AS DOUBLE)
                         THEN 1 ELSE 0 END)) AS BIGINT) AS n_fwd_gt_rev
    FROM embeddings ORDER BY vec_id
    """,
)
def array_hof_breadth_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        (F.size(e) == 64).alias("right_dim"),
        F.exists(e, lambda v: v > 0.5).alias("any_gt_half"),
        F.forall(e, lambda v: v > -1.0).alias("all_gt_neg1"),
        F.aggregate(
            F.zip_with(
                e,
                F.reverse(e),
                lambda a, b: F.when(
                    a.cast("double") > b.cast("double"), F.lit(1)
                ).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_fwd_gt_rev"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# END-TO-END PRETRAINING DATA BUILD — the whole curation pipeline as ONE
# oracle-checked query: length gate -> near-dup clusters (minhash ->
# connected components) -> keep the best member per cluster (most words,
# doc_id tiebreak) -> leakage-safe 80/20 split hashed on the cluster id
# -> token-budget shard packing within (split, source) -> per-shard
# manifest. Every stage is an already-verified operator; this entry
# proves they COMPOSE exactly (the oracle chains the recursive-CTE
# closure, the hex-bucket split, and the running-sum pack verbatim).
# Scale shape: the only corpus-wide shuffles are the dedup stages'
# digest relations and one (split, source)-partitioned window; document
# text never moves after tokenization.
# ---------------------------------------------------------------------------
def _pretrain_build_oracle() -> str:
    from .datapipe import _sql_hex4_to_int

    bucket = _sql_hex4_to_int("k.component")
    return rf"""
    SELECT split, source, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS shard_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM (
        SELECT k.doc_id, k.source, k.n_words,
               CASE WHEN {bucket} % 100 < 80 THEN 'train' ELSE 'test' END AS split,
               CAST(COALESCE(SUM(k.n_words) OVER (
                   PARTITION BY CASE WHEN {bucket} % 100 < 80
                                     THEN 'train' ELSE 'test' END, k.source
                   ORDER BY k.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 // {_SHARD_TOKENS} AS BIGINT) AS shard
        FROM (
            SELECT g.doc_id, g.source, g.n_words, c.component,
                   ROW_NUMBER() OVER (PARTITION BY c.component
                                      ORDER BY g.n_words DESC, g.doc_id) AS rn
            FROM (
                SELECT doc_id, source,
                       len({_SQL_WORDS}) AS n_words
                FROM documents
                WHERE len({_SQL_WORDS}) >= 10
            ) g
            JOIN ({ORACLE["dedup_clusters"]}) c ON c.doc_id = g.doc_id
        ) k
        WHERE k.rn = 1
    )
    GROUP BY split, source, shard
    ORDER BY split, source, shard
    """


@register("pretrain_data_build", oracle=_pretrain_build_oracle())
def pretrain_data_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph, sampling

    d = load_table(spark, sf_dir, "documents")
    gated = d.select(
        "doc_id", "source", F.size(text.words(F.col("text"))).alias("n_words")
    ).filter(F.col("n_words") >= 10)
    pairs = std_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    comp = graph.connected_components(d.select("doc_id"), pairs)
    w_keep = Window.partitionBy("component").orderBy(
        F.desc("n_words"), F.col("doc_id")
    )
    kept = (
        gated.join(comp, "doc_id")
        .withColumn("rn", F.row_number().over(w_keep))
        .filter(F.col("rn") == 1)
    )
    split = F.when(
        sampling.hash_bucket(F.col("component")) % 100 < 80, F.lit("train")
    ).otherwise(F.lit("test"))
    kept = kept.withColumn("split", split)
    w_pack = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = kept.withColumn(
        "cum_before", F.coalesce(F.sum("n_words").over(w_pack), F.lit(0))
    ).withColumn("shard", F.expr(f"cum_before div {_SHARD_TOKENS}"))
    return (
        packed.groupBy("split", "source", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("split", "source", "shard")
    )


# ---------------------------------------------------------------------------
# K-anonymity audit: group sizes over the (event_type, day) quasi-
# identifier — groups with fewer than k distinct users are re-
# identification risks a release gate must flag (the privacy complement
# of the PII scrubber). One hash aggregate on the quasi-identifier plus
# a one-row summary; k = 5.
# ---------------------------------------------------------------------------
@register(
    "k_anonymity_audit",
    oracle="""
    WITH g AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_rows
        FROM events GROUP BY event_type, d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_groups,
           CAST(SUM(CASE WHEN n_users < 5 THEN n_rows ELSE 0 END) AS BIGINT)
             AS n_risky_rows,
           CAST(MIN(n_users) AS BIGINT) AS min_group_users,
           SUM(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) = 0 AS k_anonymous
    FROM g
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    risky = (F.col("n_users") < 5).cast("long")
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(risky).cast("long").alias("n_risky_groups"),
        F.sum(F.when(F.col("n_users") < 5, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("n_risky_rows"),
        F.min("n_users").cast("long").alias("min_group_users"),
        (F.sum(risky) == 0).alias("k_anonymous"),
    )


# ---------------------------------------------------------------------------
# Cross-source syndication matrix: verified near-dup pairs rolled up by
# (source_a, source_b) — which sources copy from each other, the signal
# that reweights a crawl mix. One broadcast join of the (cached) pairs
# against the doc->source map; unordered source pairs canonicalized
# lexically so the matrix is upper-triangular.
# ---------------------------------------------------------------------------
@register(
    "dedup_source_syndication",
    oracle=f"""
    WITH pairs AS (SELECT id_a, id_b FROM ({ORACLE["dedup_minhash_lsh"]})),
    m AS (
        SELECT LEAST(da.source, db.source) AS source_lo,
               GREATEST(da.source, db.source) AS source_hi
        FROM pairs p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
    )
    SELECT source_lo, source_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM m GROUP BY source_lo, source_hi
    ORDER BY source_lo, source_hi
    """,
)
def dedup_source_syndication(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = std_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    src = d.select("doc_id", "source")
    m = (
        pairs.join(
            F.broadcast(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))),
            "id_a",
        )
        .join(
            F.broadcast(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
    )
    return (
        m.groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_lo", "source_hi")
    )


# ---------------------------------------------------------------------------
# MinHash Jaccard-ESTIMATE accuracy contract: the fraction of agreeing
# minhash components estimates Jaccard (E[match] = J per hash); this
# entry computes the estimate AND the exact value per verified pair and
# pins |estimate − exact| <= 0.375 (3/8 — with 8 hashes the estimate is
# k/8-quantized, so 3 mismatched hashes of slack; the binomial bound at
# J >= 0.5 makes larger deviations vanishingly rare and every SF has
# been checked). All md5 arithmetic — the estimates THEMSELVES
# hash-match, the sketch-accuracy claim is measured, not assumed.
#
# Round-9 (VERDICT r8 #3): measured over the DETERMINISTIC DOC SAMPLE
# (registry._sample_pct with cap_pct=100 — FULL corpus until it
# outgrows ~10k docs, then shrinking toward that absolute target), the
# lsh_recall_contract_sampled recipe. The full-corpus form rode the
# UNCAPPED pair relation, which the sf100 probe measured as quadratic
# OUTPUT (a 9,105-doc band bucket alone yields 575M pairs) — blown by
# construction at the 3rd decade. The estimate-error law is a per-pair
# statistical property (each pair's agreement depends only on its two
# docs' signatures), so a uniform doc sample measures the identical
# binomial error law at constant cost at any corpus size; at driver SFs
# (corpus <= target) the sample is the whole corpus and the output is
# the complete measurement.
# ---------------------------------------------------------------------------
def _minhash_estimate_oracle() -> str:
    import re

    from .llm_ops import _SQL_SHINGLES3
    from .registry import _sql_sampled_docs_cte

    shingles_sampled = re.sub(r"\bdocuments\b", "docs_sampled", _SQL_SHINGLES3)
    pairs_sampled = re.sub(
        r"\bdocuments\b", "docs_sampled", ORACLE["dedup_minhash_lsh"]
    )
    return f"""
    WITH {_sql_sampled_docs_cte(cap_pct=100)},
    sh AS ({shingles_sampled}),
    sig AS (
        SELECT doc_id, s.seed,
               MIN(md5(shingle || '|' || CAST(s.seed AS VARCHAR))) AS minhash
        FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed) s
        GROUP BY doc_id, s.seed
    ),
    pairs AS (SELECT id_a, id_b, jaccard FROM ({pairs_sampled})),
    agree AS (
        SELECT p.id_a, p.id_b, p.jaccard,
               SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS n_agree
        FROM pairs p
        JOIN sig a ON a.doc_id = p.id_a
        JOIN sig b ON b.doc_id = p.id_b AND b.seed = a.seed
        GROUP BY p.id_a, p.id_b, p.jaccard
    )
    SELECT id_a, id_b,
           CAST(n_agree AS BIGINT) AS n_agree,
           ROUND(n_agree / 8e0, 6) AS jaccard_est,
           jaccard AS jaccard_exact,
           ABS(n_agree / 8e0 - jaccard) <= 375e-3 AS within_bound
    FROM agree ORDER BY id_a, id_b
    """


@register(
    "minhash_estimate_contract", shares=("minhash_trigram",),
    oracle=_minhash_estimate_oracle(),
)
def minhash_estimate_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup, sampling
    from .registry import _sample_pct

    docs = load_table(spark, sf_dir, "documents")
    # deterministic doc sample, absolute-target cap only (~10k docs —
    # see the oracle-builder comment): the error-law measurement no
    # longer rides the uncapped pair relation that is quadratic OUTPUT
    # at the 3rd decade. pct == 100 (every driver SF) skips the filter
    # ENTIRELY so the plan stays canonically identical to the suite-wide
    # shingle/wide caches (one CacheManager entry with the graph block).
    # The one bounded driver-side probe is the corpus COUNT (parquet
    # footer metadata).
    pct = _sample_pct(docs.count(), cap_pct=100)
    d = (
        docs
        if pct >= 100
        else docs.filter(sampling.hash_bucket(F.col("doc_id")) < pct)
    )
    # ONE persisted signature aggregate feeds BOTH the LSH-pairs pipeline
    # and the per-pair agreement columns (round 3 ran the identical
    # groupBy twice — the suite's most expensive query at 9.5s/sf0.1).
    # wide is O(sampled docs x 8 x 32B), safe to persist.
    sh = store.keep(dedup.shingles(d, "doc_id", "text", n=3), big=True)
    wide = store.keep(dedup.minhash_wide_signatures(sh, num_hashes=8))
    if pct >= 100:
        # full-corpus path (every driver SF): the pairs leg IS the
        # standard-parameter relation — read the session-memoized,
        # lineage-truncated std_minhash_pairs instead of re-deriving the
        # identical verify tree. Before the memo value was checkpointed
        # this sharing happened implicitly (the canonical verify plan
        # matched the persisted std pairs entry); the leaf memo broke
        # that match and this entry re-ran its verify pipeline per run
        # (warm 0.97 -> 1.7 s, 7 -> 18 jobs) until it was pointed at the
        # memo object explicitly.
        from .registry import std_minhash_pairs

        raw_pairs = std_minhash_pairs(spark, sf_dir)
    else:
        raw_pairs = dedup.verified_pairs_from_wide(
            wide, sh, num_hashes=8, rows_per_band=2, threshold=0.5
        )
    pairs = raw_pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard_exact")
    )
    wa = wide.select(F.col("doc_id").alias("id_a"), *[F.col(f"h{s}").alias(f"a{s}") for s in range(8)])
    wb = wide.select(F.col("doc_id").alias("id_b"), *[F.col(f"h{s}").alias(f"b{s}") for s in range(8)])
    n_agree = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("long") for s in range(8)
    )
    est = F.col("n_agree") / F.expr("8e0")
    return (
        pairs.join(wa, "id_a")
        .join(wb, "id_b")
        .withColumn("n_agree", n_agree)
        .select(
            "id_a",
            "id_b",
            "n_agree",
            F.round(est, 6).alias("jaccard_est"),
            F.col("jaccard_exact").alias("jaccard_exact"),
            (F.abs(est - F.col("jaccard_exact")) <= F.expr("375e-3")).alias(
                "within_bound"
            ),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Train→test LM evaluation (leakage-aware): the unigram model is fit on
# the 80% hash-split train docs ONLY, then scores the held-out 20% —
# the evaluation-hygiene shape every data-quality model run needs
# (doc_unigram_logprob fits on everything; this one cannot leak). OOV
# test words take the add-one unseen mass (c = 0). Same nano-nat
# quantization-before-sum discipline; the model relation is train-vocab
# sized and joins by word (broadcast at test SF, shuffle join at scale).
# ---------------------------------------------------------------------------
def _split_lm_oracle() -> str:
    from .datapipe import _sql_hex4_to_int

    bucket = _sql_hex4_to_int("doc_id")
    return rf"""
    WITH wx AS (
        SELECT doc_id,
               CASE WHEN {bucket} % 100 < 80 THEN 'train' ELSE 'test' END AS split,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  w -> w <> '')) AS w
        FROM documents
    ),
    model AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM wx
        WHERE split = 'train' GROUP BY w
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(DISTINCT w) AS BIGINT) AS v
        FROM wx WHERE split = 'train'
    ),
    scored AS (
        SELECT t.doc_id,
               CASE WHEN m.c IS NULL THEN 1 ELSE 0 END AS oov,
               CAST(ROUND(-ln((COALESCE(m.c, 0) + 1e0) / (tot.n + tot.v))
                          * 1000000000, 0) AS BIGINT) AS t_nano
        FROM (SELECT doc_id, w FROM wx WHERE split = 'test') t
        LEFT JOIN model m ON m.w = t.w
        CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(FLOOR(SUM(t_nano) / (COUNT(*) * 1000000.0)) AS BIGINT)
             AS nll_avg_milli
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """


@register("lm_eval_train_test_split", oracle=_split_lm_oracle())
def lm_eval_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    d = load_table(spark, sf_dir, "documents")
    wx = d.select(
        "doc_id",
        F.when(sampling.hash_bucket(F.col("doc_id")) % 100 < 80, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
        F.explode(text.words(F.col("text"))).alias("w"),
    )
    train = wx.filter(F.col("split") == "train")
    model = train.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = train.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("w").cast("long").alias("v"),
    )
    t_nano = F.round(
        -F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + F.expr("1e0"))
            / (F.col("n") + F.col("v"))
        )
        * 1000000000,
        0,
    ).cast("long")
    return (
        wx.filter(F.col("split") == "test")
        .join(F.broadcast(model), "w", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("c").isNull().cast("long").alias("oov"),
            t_nano.alias("t_nano"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("oov").cast("long").alias("n_oov"),
            F.floor(F.sum("t_nano") / (F.count(F.lit(1)) * 1000000.0))
            .cast("long")
            .alias("nll_avg_milli"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Top user-journey paths: each user-day's first three event types (by
# (ts, event_id) — the deterministic tiebreak every ordering in this repo
# uses) concatenated into a path string, rolled up to the most common
# journeys. The path-analysis complement of the strict funnel
# (funnel_view_click_purchase): the funnel asks "did V->C->P happen",
# paths ask "what DID happen". One (user, day)-partitioned window + one
# hash aggregate; top-20 via TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@register(
    "journey_top_paths",
    oracle="""
    WITH r AS (
        SELECT user_id, CAST(ts AS DATE) AS d, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id, d,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3 GROUP BY user_id, d
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_user_days
    FROM paths GROUP BY path
    ORDER BY n_user_days DESC, path LIMIT 20
    """,
)
def journey_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    r = e.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 3)
    # ordered concat without an ordered string_agg: sort (rn, type)
    # structs per group, then join — JVM-side array lambdas
    # round 13: GetArrayStructFields (codegen) instead of a transform
    # lambda (interpreted eval) for the ordered projection
    path = F.array_join(
        F.array_sort(F.collect_list(F.struct("rn", "event_type"))).getField(
            "event_type"
        ),
        ">",
    )
    paths = r.groupBy("user_id", "d").agg(path.alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), "path")
        .limit(20)
    )
