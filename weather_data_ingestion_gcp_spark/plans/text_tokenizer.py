"""Text and tokenizer queries: normalization, markup and URL extraction,
PII scrubbing, language ID, quality and repetition signals, token and
n-gram statistics, TF-IDF/BM25/inverted-index retrieval, winnowing,
corpus language-model scores and BPE learn/apply over the ``documents``
table.

Parity notes: ratios round at 6/4 dp on both sides or are emitted as
FLOOR'd ppm BIGINTs; regex character classes are ASCII-only so Java regex
(Spark) and RE2 (DuckDB) agree; DuckDB ``regexp_replace`` needs the
explicit ``'g'`` flag to match Spark's global-replace default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import store
from ..operators import sketch, text
from ..operators.text import words as text_words
from .oracle_sql import (
    collapse_ws_sql,
    fingerprint_sql,
    non_ws_class_sql,
    shingles_sql,
    stoplist_sql,
    token_regex_sql,
    tokens_sql,
    winnow_fps_sql,
    words_sql,
)
from .registry import load_table, register


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
_LANGID_ORACLE = f"""
    WITH toks AS ({tokens_sql}),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               ROUND(SUM(CASE WHEN token IN ({stoplist_sql('de')}) THEN 1 ELSE 0 END) * 1.0
                     / greatest(COUNT(*), 1), 4) AS score_de,
               ROUND(SUM(CASE WHEN token IN ({stoplist_sql('en')}) THEN 1 ELSE 0 END) * 1.0
                     / greatest(COUNT(*), 1), 4) AS score_en,
               ROUND(SUM(CASE WHEN token IN ({stoplist_sql('es')}) THEN 1 ELSE 0 END) * 1.0
                     / greatest(COUNT(*), 1), 4) AS score_es,
               ROUND(SUM(CASE WHEN token IN ({stoplist_sql('fr')}) THEN 1 ELSE 0 END) * 1.0
                     / greatest(COUNT(*), 1), 4) AS score_fr
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, score_de, score_en, score_es, score_fr,
           CASE
             WHEN score_de > -1.0 AND score_en <= score_de AND score_es <= score_de
                  AND score_fr <= score_de THEN 'de'
             WHEN score_es <= score_en AND score_fr <= score_en THEN 'en'
             WHEN score_fr <= score_es THEN 'es'
             ELSE 'fr'
           END AS pred_lang
    FROM agg ORDER BY doc_id
    """


@register(
    "text_langid_scores",
    oracle=_LANGID_ORACLE,
)
def text_langid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = text.langid_scores(d, "text")
    return out.select(
        "doc_id", "n_tokens", "score_de", "score_en", "score_es", "score_fr", "pred_lang"
    ).orderBy("doc_id")


@register(
    "text_quality_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, COUNT(*) AS n_words,
               SUM(CASE WHEN token IN ({stoplist_sql('en')}) THEN 1 ELSE 0 END) AS sw_hits
        FROM ({tokens_sql}) GROUP BY doc_id
    )
    SELECT d.doc_id,
           t.n_words,
           ROUND((length(d.text) - (t.n_words - 1)) * 1.0 / greatest(t.n_words, 1), 4)
             AS avg_word_len,
           length(d.text) - length(regexp_replace(d.text, '[.,;:!?]', '', 'g')) AS n_punct,
           ROUND(t.sw_hits * 1.0 / greatest(t.n_words, 1), 4) AS stopword_ratio,
           ROUND(least(t.n_words / 200.0, 1.0) * 0.4
                 + least((t.sw_hits * 1.0 / greatest(t.n_words, 1)) * 5, 1.0) * 0.4
                 + CASE WHEN (length(d.text) - (t.n_words - 1)) * 1.0 / greatest(t.n_words, 1)
                             BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END, 4) AS quality_score
    FROM documents d JOIN toks t ON t.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = text.quality_features(d, "text")
    return out.select(
        "doc_id", "n_words", "avg_word_len", "n_punct", "stopword_ratio", "quality_score"
    ).orderBy("doc_id")


@register(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           len({words_sql}) AS ws_tokens,
           len(regexp_extract_all(text, '{token_regex_sql}'))
             AS re_tokens
    FROM documents ORDER BY doc_id
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = text.token_counts(d, "text")
    return out.select("doc_id", "ws_tokens", "re_tokens").orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {fingerprint_sql} AS fp,
           substr({fingerprint_sql}, 1, 16) AS fp64
    FROM documents ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return text.fingerprint(d, "text").select("doc_id", "fp", "fp64").orderBy("doc_id")


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS ({tokens_sql}),
    tf AS (SELECT doc_id, token AS term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, token AS term FROM toks) GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
               ROUND(tf.tf * (ln((n.n_docs + 1) * 1.0 / (dfc.df + 1)) + 1), 6)
                   AS tfidf
        FROM tf JOIN dfc USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, "doc_id", "text", k=3).orderBy("doc_id", "rk")


@register(
    "inverted_index_bigrams",
    oracle=f"""
    WITH bg AS (SELECT doc_id, shingle AS term FROM ({shingles_sql(2)}))
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df_count,
           array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1,
                                      {text.INDEX_MAX_POSTINGS}), '|') AS postings
    FROM bg GROUP BY term HAVING COUNT(*) >= {text.INDEX_MIN_DF} ORDER BY term
    """,
)
def inverted_index_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-index build (operators.text.inverted_index): word-bigram
    term -> document frequency + capped sorted posting list. One explode +
    one groupBy; the posting cap (sort_array + slice) bounds agg state on
    hot terms — the full-index form shards postings by term bucket.
    Postings are emitted '|'-joined (scalar column) for the driver
    canonicalizer; the library operator keeps the true array type."""
    d = load_table(spark, sf_dir, "documents")
    idx = text.inverted_index(d, "doc_id", "text")
    return idx.select(
        "term",
        "df_count",
        # round 13: elementwise cast via array cast (codegen) instead of
        # a transform lambda (interpreted) — identical long->string text
        F.array_join(F.col("postings").cast("array<string>"), "|").alias(
            "postings"
        ),
    ).orderBy("term")


#: BM25 query terms for the lexical-retrieval entry — fixed literals so
#: the oracle is the same query (all present in the synthetic vocabulary).
_BM25_TERMS = ["spark", "merge", "window"]


@register(
    "bm25_lexical_topk",
    oracle=f"""
    WITH toks AS ({tokens_sql}),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    q AS (SELECT doc_id, token AS term, COUNT(*) AS tf FROM toks
          WHERE token IN ('spark', 'merge', 'window') GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, token AS term FROM toks
                  WHERE token IN ('spark', 'merge', 'window')) GROUP BY term),
    st AS (SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) AS n_docs,
                  (SELECT AVG(dl) FROM dl) AS avgdl),
    s AS (
        SELECT q.doc_id, q.term,
               ln(1 + (st.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
               * (q.tf * ({text.BM25_K1} + 1))
               / (q.tf + {text.BM25_K1} * (1 - {text.BM25_B} + {text.BM25_B} * dl.dl / st.avgdl)) AS s
        FROM q JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
    ),
    p AS (
        SELECT doc_id,
               SUM(CASE WHEN term = 'spark'  THEN s END) AS s0,
               SUM(CASE WHEN term = 'merge'  THEN s END) AS s1,
               SUM(CASE WHEN term = 'window' THEN s END) AS s2
        FROM s GROUP BY doc_id
    ),
    r AS (SELECT doc_id,
                 COALESCE(s0, 0) + COALESCE(s1, 0) + COALESCE(s2, 0) AS score
          FROM p),
    rk AS (SELECT doc_id, ROUND(score, 6) AS score,
                  ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id) AS rk
           FROM r)
    SELECT doc_id, score, rk FROM rk WHERE rk <= 20 ORDER BY rk
    """,
)
def bm25_lexical_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators.text.bm25_topk) — the lexical
    baseline beside the ANN entries; hybrid search unions the two. The
    per-term scores are pivoted to columns and summed in fixed query
    order on BOTH sides, so the float total is accumulation-order-stable
    cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    return text.bm25_topk(d, _BM25_TERMS, "doc_id", "text", k=20).orderBy("rk")


# shares: the kept fingerprint-array relation (4.1 s rebuilt vs ~1 s shared)
@register(
    "text_winnow_fingerprints", shares=("winnow_fingerprints",),
    oracle=f"""
    WITH {winnow_fps_sql}
    SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
           list_min(fps) AS min_fp, list_max(fps) AS max_fp
    FROM fp ORDER BY doc_id
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators.text.winnow_fingerprints): char
    ``WINNOW_K``-gram rolling hashes (base-128 Horner value x golden-ratio
    odd multiplier mod 2^63 — a bijection, so gram identity is
    preserved), ``WINNOW_W``-wide window minima, distinct per doc,
    summarized per doc from the kept fingerprint arrays. One
    Arrow-batched vectorized pass; no explode, no shuffle until the
    final orderBy."""
    d = load_table(spark, sf_dir, "documents")
    fps = F.col("fps")
    return text.winnow_fingerprints(d, "doc_id", "text").select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fp"),
        F.array_min(fps).alias("min_fp"),
        F.array_max(fps).alias("max_fp"),
    ).orderBy("doc_id")


@register(
    "word_pair_pmi",
    oracle=f"""
    WITH toks AS (SELECT DISTINCT doc_id, token FROM ({tokens_sql})),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    dfc AS (SELECT token, COUNT(*) AS df FROM toks GROUP BY token),
    co AS (
        SELECT a.token AS w1, b.token AS w2, COUNT(*) AS n_co
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.token < b.token
        GROUP BY w1, w2
    )
    SELECT w1, w2, CAST(n_co AS BIGINT) AS n_co,
           ROUND(ln((n_co * 1.0 / n.n_docs) /
                    ((fa.df * 1.0 / n.n_docs) * (fb.df * 1.0 / n.n_docs))), 6)
             AS pmi
    FROM co JOIN dfc fa ON fa.token = co.w1
            JOIN dfc fb ON fb.token = co.w2
            CROSS JOIN n
    WHERE n_co >= 50
    ORDER BY w1, w2
    """,
)
def word_pair_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level word co-occurrence
    — the association statistic behind collocation mining and embedding
    objectives (PMI-shifted SGNS). The co-occurrence self-join is an
    equi-join on doc_id bounded by the per-doc DISTINCT vocabulary (never
    a corpus cross join); term document-frequencies ride a broadcast; the
    corpus size is a broadcast scalar. All PMI inputs are exact integers,
    so the only float ops (two divides, one ln) see identical operands in
    both engines.

    Scale path: n_co <= min(df_a, df_b), so a pair can only survive the
    ``n_co >= MIN_CO`` gate if BOTH terms appear in >= MIN_CO documents —
    each self-join leg is therefore semi-joined against the (tiny,
    broadcast) hot-term relation BEFORE the doc_id join. Semantics are
    provably identical; the pair blowup shrinks from per-doc full-vocab^2
    to hot-vocab^2 (long-tail tokens — most of any real corpus — never
    enter the join)."""
    min_co = 50
    d = load_table(spark, sf_dir, "documents")
    # round-13 opt: the distinct (doc_id, token) relation is evaluated
    # by three subtrees (the DF aggregate and both self-join legs);
    # persist it so the tokenize+distinct shuffle runs once (guide
    # §2.4 — share one exchange). MEMORY_ONLY via big=True: exploded
    # token relations recompute cheaper than they disk-round-trip
    # (see store.py), and store.release() frees it with the dedup
    # block's relations.
    toks = store.keep(
        d.select(
            "doc_id", F.explode(text.words(F.col("text"))).alias("token")
        ).distinct(),
        big=True,
    )
    n_docs = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    hot = dfc.filter(F.col("df") >= min_co).select("token")
    toks_hot = toks.join(F.broadcast(hot), "token", "left_semi")
    a = toks_hot.select("doc_id", F.col("token").alias("w1"))
    b = toks_hot.select("doc_id", F.col("token").alias("w2"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= min_co)
    )
    fa = dfc.select(F.col("token").alias("w1"), F.col("df").alias("df_a"))
    fb = dfc.select(F.col("token").alias("w2"), F.col("df").alias("df_b"))
    return (
        co.join(F.broadcast(fa), "w1")
        .join(F.broadcast(fb), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            F.col("n_co").cast("long").alias("n_co"),
            F.round(
                F.log(
                    (F.col("n_co") * 1.0 / F.col("n_docs"))
                    / (
                        (F.col("df_a") * 1.0 / F.col("n_docs"))
                        * (F.col("df_b") * 1.0 / F.col("n_docs"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("w1", "w2")
    )


# shares: locality only (the same documents word scan); learner and encoder
# read the word_freq_shared memo
@register(
    "bpe_char_pair_counts", shares=("bpe_words",),
    oracle=f"""
    WITH w AS (
        SELECT w FROM (SELECT unnest({words_sql}) AS w FROM documents)
        WHERE len(w) >= 2
    ),
    p AS (SELECT substr(w, i, 2) AS pair
          FROM w, UNNEST(generate_series(1, len(w) - 1)) AS g(i))
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50
    """,
)
def bpe_char_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent character-pair frequencies inside words — the counting
    step of one BPE merge iteration (operators.text.char_pair_counts);
    the max-count pair is the next merge. Explode -> map-side-combined
    count -> TakeOrderedAndProject top-k."""
    d = load_table(spark, sf_dir, "documents")
    return text.char_pair_counts(d, "text", k=50)


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate — the tokenizer-analysis pass run before
# committing to a vocab: build the top-K corpus vocabulary, then score
# every document's out-of-vocabulary fraction against it. The vocab is a
# tiny aggregate relation (K rows) and broadcasts into the scoring join.
# ---------------------------------------------------------------------------
@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH uni AS (SELECT doc_id, unnest({words_sql}) AS w FROM documents),
    cnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    vocab AS (
        SELECT w FROM
        (SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk FROM cnt)
        WHERE rk <= 500
    )
    SELECT u.doc_id,
           CAST(COUNT(*) AS BIGINT)                           AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                              AS n_oov,
           ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6)                               AS oov_rate
    FROM uni u LEFT JOIN vocab v USING (w)
    GROUP BY u.doc_id ORDER BY u.doc_id
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-500 corpus vocabulary (frequency desc, word tiebreak) and each
    document's OOV token fraction against it. Two aggregates + one
    broadcast left join; the global top-K ranking sorts only the
    distinct-word relation (vocab-sized, tiny), never token instances."""
    d = load_table(spark, sf_dir, "documents")
    uni = d.select("doc_id", F.explode(text.words(F.col("text"))).alias("w"))
    cnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        cnt.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("c").desc(), "w")),
        )
        .filter(F.col("rk") <= 500)
        .select("w", F.lit(1).alias("_inv"))
    )
    return (
        uni.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Boilerplate prefix detection — repeated document openings within a
# source (headers, templates, scraper artifacts): group on the first-5-
# word prefix, surface groups big enough to be boilerplate. One hash
# aggregate on (source, prefix); prefixes are bounded strings, so agg
# state stays small no matter the corpus size.
# ---------------------------------------------------------------------------
@register(
    "boilerplate_prefix_groups",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, source,
               array_to_string(list_slice({words_sql}, 1, 2), ' ') AS prefix
        FROM documents
    )
    SELECT source, prefix,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM p GROUP BY source, prefix HAVING COUNT(*) >= 2
    ORDER BY source, prefix
    """,
)
def boilerplate_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents sharing their first-2-word prefix within a source —
    the boilerplate/template detection pass that precedes prefix
    stripping. Map-side partial aggregation collapses each partition to
    its distinct prefixes before the one shuffle."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(text.words(F.col("text")), 1, 2), " ")
    return (
        d.select("doc_id", "source", prefix.alias("prefix"))
        .groupBy("source", "prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("source", "prefix")
    )


# ---------------------------------------------------------------------------
# Canonical text normalization — lowercase, strip punctuation, collapse
# whitespace. Map-only stage, whole-stage codegen end to end.
# ---------------------------------------------------------------------------
#: lowercased text with every non-alphanumeric ASCII char spaced out
_ALNUM_SPACED_SQL = f"regexp_replace(lower(text), '{non_ws_class_sql('a-z0-9')}', ' ', 'g')"


@register(
    "text_normalize_clean",
    oracle=f"""
    SELECT doc_id,
           substring(norm, 1, 40)     AS prefix40,
           CAST(length(norm) AS BIGINT) AS n_clean_chars
    FROM (SELECT doc_id,
                 {collapse_ws_sql(_ALNUM_SPACED_SQL)} AS norm
          FROM documents)
    ORDER BY doc_id
    """,
)
def text_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = text.normalize_text(F.col("text"))
    return d.select(
        "doc_id",
        F.substring(norm, 1, 40).alias("prefix40"),
        F.length(norm).cast("long").alias("n_clean_chars"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# PII scrub. The corpus is synthetic word-soup with no PII, so the query
# injects deterministic email/phone spans into every third document first —
# both engines inject identically, then scrub identically, making the
# replacement counts a real assertion rather than a vacuous zero.
# ---------------------------------------------------------------------------
_PII_INJECT_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                          || '@example.com or 555-123-4567'
                ELSE text END AS text
    FROM documents
"""


@register(
    "pii_scrub_counts",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{{2,}}'))
              + len(regexp_extract_all(text, '\b\d{{3}}[-.]\d{{3,4}}[-.]?\d{{0,4}}\b'))
              + len(regexp_extract_all(text, '\b\d{{3}}-\d{{2}}-\d{{4}}\b')) AS BIGINT) AS n_pii,
           CAST(length(
               regexp_replace(regexp_replace(regexp_replace(text,
                   '\b\d{{3}}-\d{{2}}-\d{{4}}\b', '<SSN>', 'g'),
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{{2,}}', '<EMAIL>', 'g'),
                   '\b\d{{3}}[-.]\d{{3,4}}[-.]?\d{{0,4}}\b', '<PHONE>', 'g')
           ) AS BIGINT) AS len_scrubbed
    FROM ({_PII_INJECT_SQL})
    ORDER BY doc_id
    """,
)
def pii_scrub_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        text.scrub_pii(d, "text")
        .select(
            "doc_id",
            "n_pii",
            F.length("scrubbed").cast("long").alias("len_scrubbed"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus-wide top-k bigrams — the n-gram LM / contamination-check staple.
# explode -> partial+final count -> TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@register(
    "ngram_bigram_topk",
    oracle=f"""
    WITH bg AS (SELECT shingle AS bigram FROM ({shingles_sql(2, positional=True)}))
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 50
    """,
)
def ngram_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return text.bigram_counts(d, "text", k=50)


@register(
    "quality_repetition_signals",
    oracle=f"""
    WITH uni AS (SELECT doc_id, unnest({words_sql}) AS w FROM documents),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM uni GROUP BY doc_id, w),
    ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                  COUNT(*) AS n_uniq, MAX(c) AS top_n
           FROM wc GROUP BY doc_id),
    bgl AS (SELECT doc_id, shingle AS g FROM ({shingles_sql(2, positional=True)})),
    bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bgl GROUP BY doc_id, g),
    bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg, COUNT(*) AS n_uniq_bg
           FROM bc GROUP BY doc_id)
    SELECT ws.doc_id, n_words,
           ROUND((n_words - n_uniq) * 1.0 / n_words, 6) AS dup_word_frac,
           ROUND(top_n * 1.0 / n_words, 6)              AS top_word_frac,
           ROUND((n_bg - n_uniq_bg) * 1.0 / n_bg, 6)    AS dup_bigram_frac,
           ((n_words - n_uniq) * 10 > 3 * n_words
            OR top_n * 5 > n_words
            OR (n_bg - n_uniq_bg) * 10 > 3 * n_bg)      AS low_quality
    FROM ws JOIN bs ON ws.doc_id = bs.doc_id
    ORDER BY ws.doc_id
    """,
)
def quality_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-word
    fraction, most-frequent-word fraction, duplicate-bigram fraction, and
    a low-quality flag (dup-word > 0.3 OR top-word > 0.2 OR dup-bigram >
    0.3). The flag is computed in INTEGER arithmetic (count*10 > 3*total)
    so the keep/drop decision is exact on both engines — only the reported
    ratios are rounded. Explode + two-level hash aggregate: partial
    (map-side) aggregation absorbs the token blowup before any shuffle,
    and per-doc skew is bounded by max document length."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", text.words(F.col("text")).alias("_ws"))
    wc = (
        toks.select("doc_id", F.explode("_ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ws = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_uniq"),
        F.max("c").cast("long").alias("top_n"),
    )
    bc = (
        toks.select(
            "doc_id", F.explode(text.bigrams(F.col("_ws"))).alias("g")
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bs = bc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bg"),
        F.count(F.lit(1)).cast("long").alias("n_uniq_bg"),
    )
    n_words, n_uniq, top_n = F.col("n_words"), F.col("n_uniq"), F.col("top_n")
    n_bg, n_uniq_bg = F.col("n_bg"), F.col("n_uniq_bg")
    return (
        ws.join(bs, "doc_id")
        .select(
            "doc_id",
            "n_words",
            F.round((n_words - n_uniq) / n_words, 6).alias("dup_word_frac"),
            F.round(top_n / n_words, 6).alias("top_word_frac"),
            F.round((n_bg - n_uniq_bg) / n_bg, 6).alias("dup_bigram_frac"),
            (
                ((n_words - n_uniq) * 10 > 3 * n_words)
                | (top_n * 5 > n_words)
                | ((n_bg - n_uniq_bg) * 10 > 3 * n_bg)
            ).alias("low_quality"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-source quality gate — percentile thresholding WITHIN each source
# (a global cutoff lets one high-quality source crowd out the rest): keep
# the top 80% by n_chars inside every source, report kept/total.
# percent_rank is (rank-1)/(n-1) on integers, bit-identical across engines.
# ---------------------------------------------------------------------------
@register(
    "quality_percentile_gate",
    oracle="""
    WITH r AS (
        SELECT source, n_chars,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS pr
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                         AS n_total,
           CAST(SUM(CASE WHEN pr <= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
                                                            AS n_kept,
           CAST(MIN(CASE WHEN pr <= 0.8 THEN n_chars END) AS BIGINT)
                                                            AS min_kept_chars
    FROM r GROUP BY source ORDER BY source
    """,
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile gate: rank documents by quality
    (n_chars here; any score column slots in) within their source, keep
    the top 80%, summarize. One window + one aggregate on the SAME
    source partitioning — a single shuffle. The deterministic doc_id
    tiebreak makes the boundary row engine-invariant."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    r = d.select("source", "n_chars", F.percent_rank().over(w).alias("pr"))
    kept = F.col("pr") <= 0.8
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(kept.cast("int")).cast("long").alias("n_kept"),
            F.min(F.when(kept, F.col("n_chars"))).cast("long").alias(
                "min_kept_chars"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Word-entropy quality signal — low-entropy = repetitive/templated text
# (the CCNet-style diversity bucket). Log arguments are exact integers
# (ln(n) - sum(c*ln c)/n), so fixed rounding matches across engines.
# ---------------------------------------------------------------------------
@register(
    "text_entropy_quality",
    oracle=f"""
    WITH uni AS (
        SELECT doc_id,
               unnest({words_sql}) AS w
        FROM documents WHERE doc_id < 2000
    ),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM uni GROUP BY doc_id, w)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS entropy,
           CAST(FLOOR(ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4)) AS BIGINT)
               AS entropy_bucket
    FROM wc GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon word-entropy per document (operators.text.word_entropy):
    one explode + two partial-aggregated hash aggregates; the integer-
    argument formulation keeps both engines' float paths identical to 4
    decimals. The floor bucket is the filter key a curation pipeline
    thresholds on; it floors the ROUNDED entropy, not the raw double — a
    one-distinct-word doc's true entropy is exactly 0 but can evaluate
    one ulp negative under one engine's libm and 0.0 under the other's,
    which would flip floor() between -1 and 0 (round-4 first makes both
    sides see the same value at every such boundary)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    e = text.word_entropy(d, "doc_id", "text")
    return e.select(
        "doc_id",
        "n_words",
        F.round("entropy", 4).alias("entropy"),
        F.floor(F.round("entropy", 4)).cast("long").alias("entropy_bucket"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Markup stripping — deterministic tag injection (same pattern as the PII
# entry: the synthetic corpus has no HTML, so the query manufactures a
# verifiable fixture from doc_id) -> strip -> measure. Map-only chain.
# ---------------------------------------------------------------------------
#: tags spaced out, then operators.text._HTML_ENTITIES decoded in order
_UNMARKED_SQL = """replace(replace(replace(replace(replace(replace(
                       regexp_replace(text, '<[^>]+>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', ''''), '&amp;', '&')"""


@register(
    "html_strip_markup",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN
                   '<div class="d' || CAST(doc_id AS VARCHAR) || '">' || text
                   || '</div> <br/> &amp; <a href="http://x.org">link</a>'
               ELSE text END AS text
        FROM documents
    ),
    stripped AS (
        SELECT doc_id,
               {collapse_ws_sql(_UNMARKED_SQL)} AS clean,
               len(regexp_extract_all(text, '<[^>]+>')) AS n_tags
        FROM injected
    )
    SELECT doc_id, CAST(n_tags AS BIGINT) AS n_tags,
           CAST(length(clean) AS BIGINT) AS len_clean
    FROM stripped ORDER BY doc_id
    """,
)
def html_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping (operators.text.strip_markup): tags
    removed, entities decoded, whitespace collapsed; n_tags doubles as
    the markup-density quality signal. Injection makes the fixture
    deterministic so the oracle verifies the whole chain by hash."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<div class="d'),
                F.col("doc_id").cast("string"),
                F.lit('">'),
                F.col("text"),
                F.lit('</div> <br/> &amp; <a href="http://x.org">link</a>'),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        text.strip_markup(d, "text")
        .select(
            "doc_id",
            "n_tags",
            F.length("clean").cast("long").alias("len_clean"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# URL extraction + canonicalization — the URL-level dedup prep pass.
# Deterministic injection again; the normalized form (https, lowercased
# host, no query/fragment/trailing punctuation) is the dedup key.
# ---------------------------------------------------------------------------
@register(
    "url_extract_normalize",
    oracle=r"""
    WITH injected AS (
        SELECT doc_id,
               text || ' see HTTPS://Host' || CAST(doc_id % 7 AS VARCHAR)
                    || '.Example.COM/p/' || CAST(doc_id % 5 AS VARCHAR)
                    || '?utm=x#frag, plus http://plain.org/a.'
                    AS text
        FROM documents WHERE doc_id % 4 = 0
    ),
    matches AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text,
                   '(?i)https?://[A-Za-z0-9._~:/?#@!$&''()*+,;=%-]+')) AS m
        FROM injected
    ),
    urls AS (
        SELECT doc_id, regexp_replace(m, '[.,;:!?)]+$', '') AS url
        FROM matches
    )
    SELECT doc_id, url,
           lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1)) AS host,
           'https://' || lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1))
               || regexp_replace(
                      regexp_extract(url, '(?i)^https?://[^/?#]+([^?#]*)', 1),
                      '[.,;:!?)]+$', '') AS url_norm
    FROM urls ORDER BY doc_id, url
    """,
)
def url_extract_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + canonical dedup key (operators.text.extract_urls):
    per-URL rows with lowercased host and a normalized https form, query
    strings/fragments/trailing punctuation dropped. Pure regex (shared
    Java/RE2 subset); explode rides only the injected subset."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see HTTPS://Host"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.COM/p/"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("?utm=x#frag, plus http://plain.org/a."),
        ).alias("text"),
    )
    return text.extract_urls(injected, "doc_id", "text").orderBy("doc_id", "url")


def _docs_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "source", text.words(F.col("text")).alias("ws"))


# ---------------------------------------------------------------------------
# Gopher-style repetition gate (Rae et al. '21 §A1.1): fraction of the doc
# covered by its most frequent unigram / bigram. Shape: one explode + two
# (doc_id, gram) partial-agg shuffles + a doc_id reduce — no windows over
# the full corpus, no doc text after the split, so the shuffled rows are
# (id, gram, count) triples regardless of document size.
# ---------------------------------------------------------------------------
_REP_THRESHOLD_PPM = 60000  # top bigram covering >6% of a doc => repetitive


@register(
    "gopher_repetition_flags",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, ws, len(ws) AS n_words
        FROM (SELECT doc_id, {words_sql} AS ws FROM documents)
    ),
    uni AS (
        SELECT doc_id, MAX(c) AS top_uni_n FROM (
            SELECT doc_id, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(ws) AS w FROM sized)
            GROUP BY doc_id, w)
        GROUP BY doc_id
    ),
    bi AS (
        SELECT doc_id, MAX(c) AS top_bi_n FROM (
            SELECT doc_id, COUNT(*) AS c
            FROM (SELECT doc_id, shingle AS bg
                  FROM ({shingles_sql(2, positional=True)}))
            GROUP BY doc_id, bg)
        GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(top_uni_n AS BIGINT) AS top_uni_n,
           CAST(COALESCE(top_bi_n, 0) AS BIGINT) AS top_bi_n,
           CAST(FLOOR(top_uni_n * 1000000.0 / n_words) AS BIGINT) AS top_uni_ppm,
           CAST(FLOOR(COALESCE(top_bi_n, 0) * 1000000.0
                      / GREATEST(n_words - 1, 1)) AS BIGINT) AS top_bi_ppm,
           CAST(FLOOR(COALESCE(top_bi_n, 0) * 1000000.0
                      / GREATEST(n_words - 1, 1)) AS BIGINT)
               >= {_REP_THRESHOLD_PPM} AS repetitive
    FROM sized s
    JOIN uni USING (doc_id)
    LEFT JOIN bi USING (doc_id)
    ORDER BY doc_id
    """,
)
def gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-unigram / top-bigram coverage fractions (ppm) and a
    repetition flag — the Gopher repetition filter. Fractions are
    FLOOR'd ppm over exact integer counts: one IEEE division of exact
    ints is bit-identical everywhere, immune to the round-half rule."""
    sized = _docs_words(spark, sf_dir).select(
        "doc_id", "ws", F.size("ws").alias("n_words")
    )
    uni = (
        sized.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_uni_n"))
    )
    bigrams = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
    )
    bi = (
        sized.where(F.size("ws") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bi_n"))
    )
    top_bi = F.coalesce("top_bi_n", F.lit(0))
    bi_ppm = F.floor(top_bi * 1000000.0 / F.greatest(F.col("n_words") - 1, F.lit(1)))
    return (
        sized.join(uni, "doc_id")
        .join(bi, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("top_uni_n").cast("long").alias("top_uni_n"),
            top_bi.cast("long").alias("top_bi_n"),
            F.floor(F.col("top_uni_n") * 1000000.0 / F.col("n_words"))
            .cast("long")
            .alias("top_uni_ppm"),
            bi_ppm.cast("long").alias("top_bi_ppm"),
            (bi_ppm >= _REP_THRESHOLD_PPM).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope per source: OLS of ln(freq) on ln(rank) over
# the top-300 words. The regression runs on 1e-4-quantized BIGINT terms so
# every sum is exact and order-free; the closed-form slope is then ONE
# double division of two exact integers. A natural-language source obeys
# slope ~ -1; synthetic/boilerplate-heavy sources drift toward 0.
# ---------------------------------------------------------------------------
@register(
    "zipf_slope_by_source",
    oracle=f"""
    WITH wc AS (
        SELECT source, w, COUNT(*) AS c
        FROM (SELECT source, unnest({words_sql}) AS w FROM documents)
        GROUP BY source, w
    ),
    ranked AS (
        SELECT source, c,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w) AS rnk
        FROM wc
    ),
    q AS (
        SELECT source,
               CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 10000, 0) AS BIGINT) AS x,
               CAST(ROUND(ln(CAST(c AS DOUBLE)) * 10000, 0) AS BIGINT) AS y
        FROM ranked WHERE rnk <= 300
    ),
    s AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM q GROUP BY source
    )
    SELECT source, n AS n_ranks,
           CAST(FLOOR((n * sxy - sx * sy) * 100.0
                      / NULLIF(n * sxx - sx * sx, 0)) AS BIGINT) AS slope_centi
    FROM s ORDER BY source
    """,
)
def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source. Word counts shuffle once on
    (source, word); ranking is a per-source window over at most |vocab|
    rows; the OLS sums are exact BIGINTs (x,y <= ~6e4, 300 terms —
    far inside 2^63), so the slope is engine-invariant."""
    wc = (
        _docs_words(spark, sf_dir)
        .select("source", F.explode("ws").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rnk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("c").desc(), "w")
    )
    q = (
        wc.withColumn("rnk", rnk)
        .where(F.col("rnk") <= 300)
        .select(
            "source",
            F.round(F.log(F.col("rnk").cast("double")) * 10000, 0)
            .cast("long")
            .alias("x"),
            F.round(F.log(F.col("c").cast("double")) * 10000, 0)
            .cast("long")
            .alias("y"),
        )
    )
    s = q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
    )
    return s.select(
        "source",
        F.col("n").alias("n_ranks"),
        F.floor((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * 100.0 / denom)
        .cast("long")
        .alias("slope_centi"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Cross-source vocabulary Jaccard: top-20 vocab per source (count desc,
# word tiebreak), pairwise overlap via ONE equi-join on the word — the
# vocab relation is O(sources * 20) rows, so at any corpus scale the pair
# computation runs on a broadcast-sized dimension after one word count.
# ---------------------------------------------------------------------------
_VOCAB_K = 20

_SQL_TOPVOCAB = rf"""
    SELECT source, w FROM (
        SELECT source, w,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w) AS rnk
        FROM (SELECT source, w, COUNT(*) AS c
              FROM (SELECT source, unnest({words_sql}) AS w FROM documents)
              GROUP BY source, w))
    WHERE rnk <= {_VOCAB_K}
"""


@register(
    "source_vocab_jaccard",
    oracle=f"""
    WITH v AS ({_SQL_TOPVOCAB}),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nv FROM v GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_common,
           CAST(FLOOR(n_common * 1000000.0
                      / (sa.nv + sb.nv - n_common)) AS BIGINT) AS jaccard_ppm
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise top-K-vocabulary Jaccard between sources — the corpus-mix
    redundancy matrix. Pairs with zero overlap are absent on both sides
    (inner join semantics match the oracle)."""
    wc = (
        _docs_words(spark, sf_dir)
        .select("source", F.explode("ws").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rnk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("c").desc(), "w")
    )
    v = wc.withColumn("rnk", rnk).where(F.col("rnk") <= _VOCAB_K).select("source", "w")
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    a = v.alias("a")
    b = v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("sa.source") == F.col("source_a"))
        .join(F.broadcast(sb), F.col("sb.source") == F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.floor(
                F.col("n_common")
                * 1000000.0
                / (F.col("sa.nv") + F.col("sb.nv") - F.col("n_common"))
            )
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Per-source unigram KL divergence from the corpus distribution
# (CCNet-style domain-shift signal), add-one smoothed over the corpus
# vocabulary. The source x vocab grid is O(sources * |vocab|) — tiny
# next to the one word-count pass — and each KL term is quantized to
# 1e-9 BIGINTs before the order-free sum.
# ---------------------------------------------------------------------------
@register(
    "source_unigram_kl",
    oracle=f"""
    WITH wx AS (SELECT source, unnest({words_sql}) AS w FROM documents),
    corpus AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM wx GROUP BY w),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM wx),
    persrc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cs
               FROM wx GROUP BY source, w),
    srctot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
               FROM wx GROUP BY source),
    grid AS (
        SELECT st.source, st.ns, cp.w, cp.c, COALESCE(ps.cs, 0) AS cs
        FROM srctot st CROSS JOIN corpus cp
        LEFT JOIN persrc ps ON ps.source = st.source AND ps.w = cp.w
    )
    SELECT source, ns AS n_words,
           CAST(SUM(CAST(ROUND(((cs + 1.0) / (ns + v))
                          * ln(((cs + 1.0) / (ns + v))
                               / ((c + 1.0) / (n + v))) * 1000000000, 0)
                    AS BIGINT)) AS BIGINT) AS kl_nano
    FROM grid CROSS JOIN tot
    GROUP BY source, ns ORDER BY source
    """,
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source || corpus) over add-one-smoothed unigram distributions —
    flags sources whose language diverges from the corpus mix. Scalar
    corpus totals ride a 1-row broadcast cross join (the same pattern as
    the BM25/TF-IDF corpus constants); terms quantize to nano units
    before summation so the aggregate is exact."""
    wx = _docs_words(spark, sf_dir).select("source", F.explode("ws").alias("w"))
    corpus = wx.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = wx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("w").cast("long").alias("v"),
    )
    persrc = wx.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cs")
    )
    srctot = wx.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("ns"))
    grid = (
        srctot.crossJoin(F.broadcast(corpus))
        .join(
            persrc.withColumnRenamed("cs", "cs_raw"),
            ["source", "w"],
            "left",
        )
        .withColumn("cs", F.coalesce("cs_raw", F.lit(0)))
    )
    p = (F.col("cs") + 1.0) / (F.col("ns") + F.col("v"))
    q = (F.col("c") + 1.0) / (F.col("n") + F.col("v"))
    term = F.round(p * F.log(p / q) * 1000000000, 0).cast("long")
    return (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("source", F.col("ns").alias("n_words"))
        .agg(F.sum(term).alias("kl_nano"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters over the corpus word stream via Misra-Gries
# candidates (operators/sketch.py): phase 1 emits <= partitions*k
# candidates from one scan; phase 2 exact-counts only candidate-matching
# rows. Output provably equals the exact > n/k answer, so a plain
# GROUP BY ... HAVING oracle hash-checks a sketch-based plan.
# ---------------------------------------------------------------------------
_MG_K = 30


@register(
    "heavy_hitters_mg",
    oracle=f"""
    WITH wx AS (SELECT unnest({words_sql}) AS w FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM wx)
    SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_count, n_total
    FROM wx CROSS JOIN tot
    GROUP BY w, n_total
    HAVING COUNT(*) * {_MG_K} > n_total
    ORDER BY w
    """,
)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Words with frequency > n/k (k=30) — exact answer, sketch-bounded
    shuffle. See sketch.mg_heavy_hitters for the superset argument."""
    wx = _docs_words(spark, sf_dir).select(F.explode("ws").alias("w"))
    return sketch.mg_heavy_hitters(wx, "w", _MG_K).orderBy("w")


# ---------------------------------------------------------------------------
# BPE merge learning (operators/bpe.py) — the iterative tokenizer-training
# loop, oracled by UNROLLING the rounds into chained CTEs. Spark's only
# driver traffic is the 1-row argmax per round; the oracle proves each
# adopted merge and its weighted pair count hash-identical.
# ---------------------------------------------------------------------------
_BPE_ROUNDS = 5


def _bpe_oracle(n_rounds: int) -> str:
    """Chained-CTE unroll: w0 -> (p1 -> b1 -> w1) -> ... -> union of b_r."""
    parts = [
        rf"""w0 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq
        FROM (SELECT unnest({words_sql}) AS w
              FROM documents)
        GROUP BY w
    )"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"""p{r} AS (
        SELECT p.l AS l, p.r AS r, CAST(SUM(n) AS BIGINT) AS pair_count FROM (
            SELECT n, unnest(list_transform(generate_series(1, len(t) - 1),
                             i -> {{'l': t[i], 'r': t[i + 1]}})) AS p
            FROM (SELECT n, string_split(trim(seq, ' '), ' ') AS t FROM w{r - 1})
            WHERE len(t) >= 2)
        GROUP BY p.l, p.r
    ),
    b{r} AS (
        SELECT l, r, pair_count FROM p{r}
        ORDER BY pair_count DESC, l, r LIMIT 1
    ),
    w{r} AS (
        SELECT n, replace(replace(seq, ' ' || l || ' ' || r || ' ',
                                  ' ' || l || r || ' '),
                          ' ' || l || ' ' || r || ' ',
                          ' ' || l || r || ' ') AS seq
        FROM w{r - 1} CROSS JOIN b{r}
    )"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, l AS left_sym,"
        f" r AS right_sym, l || r AS merged, pair_count FROM b{r}"
        for r in range(1, n_rounds + 1)
    )
    return "WITH " + ",\n    ".join(parts) + f"\n    {unions}\n    ORDER BY merge_rank"


def word_freq_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus word-frequency relation (w, n), session-persisted and
    memoized per (session, sf dir) — one cache entry feeding
    ``bpe_learn_merges`` and its shares-adjacent ``bpe_apply_encode``,
    which otherwise each re-run the documents scan + explode
    + groupBy (the learner's internal loop cache is built FROM this and
    released at return, so nothing else survives across the pair).
    O(vocabulary) rows — bounded far below corpus size at any scale."""
    return store.shared(
        spark,
        "word_freq",
        sf_dir,
        lambda: (
            _docs_words(spark, sf_dir)
            .select(F.explode("ws").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("n"))
        ),
    )


@register("bpe_learn_merges", shares=("bpe_words",), oracle=_bpe_oracle(_BPE_ROUNDS))
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 5 BPE merges over the corpus word-frequency table — the
    iterative driver-loop operator family's tokenizer member (compare
    kmeans: bounded 1-row collect per round, everything else stays
    DataFrame-side on the vocabulary-sized relation)."""
    from ..operators import bpe

    wx = word_freq_shared(spark, sf_dir)
    return bpe.bpe_learn_merges(wx, "w", "n", n_merges=_BPE_ROUNDS).orderBy(
        "merge_rank"
    )


# ---------------------------------------------------------------------------
# Unigram negative-log-likelihood quality score — the statistical-LM
# quality filter (CCNet's LM-perplexity gate with the corpus unigram
# model standing in for the external KenLM): documents dominated by rare
# words score high and get flagged. One corpus-count pass; scoring is a
# broadcast join of the vocabulary-sized count relation; per-occurrence
# terms quantize to nano units so the doc sum is exact.
# ---------------------------------------------------------------------------
@register(
    "doc_unigram_logprob",
    oracle=f"""
    WITH wx AS (
        SELECT doc_id, unnest({words_sql}) AS w
        FROM documents
    ),
    corpus AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM wx GROUP BY w),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM wx),
    scored AS (
        SELECT wx.doc_id,
               CAST(ROUND(-ln((c + 1.0) / (n + v)) * 1000000000, 0) AS BIGINT)
                   AS t_nano
        FROM wx JOIN corpus USING (w) CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(FLOOR(SUM(t_nano) / (COUNT(*) * 1000000.0)) AS BIGINT)
               AS nll_avg_milli
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average unigram NLL under the corpus distribution (add-one
    smoothed) in FLOOR'd milli-nats — rare-word-heavy documents rank
    high, the LM-quality ordering a curation pipeline gates on."""
    wx = _docs_words(spark, sf_dir).select("doc_id", F.explode("ws").alias("w"))
    corpus = wx.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = wx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("w").cast("long").alias("v"),
    )
    t_nano = F.round(
        -F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v"))) * 1000000000, 0
    ).cast("long")
    return (
        wx.join(F.broadcast(corpus), "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", t_nano.alias("t_nano"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.floor(F.sum("t_nano") / (F.count(F.lit(1)) * 1000000.0))
            .cast("long")
            .alias("nll_avg_milli"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix — the evaluation companion to
# text_langid_scores: declared language vs heuristic prediction, the
# quality report a corpus-mix pipeline reads before trusting a language
# filter. The oracle composes the langid entry's own SQL verbatim, so
# both entries stay definitionally in lockstep.
# ---------------------------------------------------------------------------
def _langid_confusion_oracle() -> str:
    return f"""
    SELECT d.lang AS true_lang, p.pred_lang AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ({_LANGID_ORACLE}) p
    JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.lang, p.pred_lang
    ORDER BY true_lang, pred_lang
    """


@register("langid_confusion_matrix", oracle=_langid_confusion_oracle())
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(declared lang, predicted lang, count) — one broadcast-free
    aggregate over the langid projection."""
    d = load_table(spark, sf_dir, "documents")
    out = text.langid_scores(d, "text")
    return (
        out.groupBy(
            F.col("lang").alias("true_lang"), F.col("pred_lang").alias("pred_lang")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language: regex-tokens per whitespace-word and
# bytes per regex-token — the stats that size a token budget before a
# training run (fertility ~1 for space-delimited langs, >>1 for scripts the
# tokenizer fragments). One map-side tokenize + one tiny per-lang aggregate.
# ---------------------------------------------------------------------------
@register(
    "token_fertility_by_lang",
    oracle=f"""
    WITH t AS (
        SELECT lang,
               len({words_sql}) AS ws_tokens,
               len(regexp_extract_all(text, '{token_regex_sql}'))
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
# BPE APPLY (the encode half of the tokenizer round-trip; bpe_learn_merges
# is the train half): re-encode the corpus vocabulary with the learned
# merge list and report the 20 most frequent words' encodings + token
# counts. The merge list is O(model) (5 rows collected — the k-means
# centroid pattern); application is the same double scan-left replace the
# learner uses, so learner and encoder can never drift. The oracle chains
# the identical 5 unrolled merge rounds (BPE-oracle pattern) and carries
# the word key through every round.
# ---------------------------------------------------------------------------
def _bpe_apply_oracle(rounds: int) -> str:
    parts = [
        rf"""w0 AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
               ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq
        FROM (SELECT unnest({words_sql}) AS w
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
            FROM (SELECT n, string_split(trim(seq, ' '), ' ') AS t FROM w{r - 1})
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
    SELECT w AS word, n, trim(seq, ' ') AS encoded,
           CAST(len(string_split(trim(seq, ' '), ' ')) AS BIGINT) AS n_tokens
    FROM w{rounds} ORDER BY n DESC, w LIMIT 20
    """
    )


@register("bpe_apply_encode", shares=("bpe_words",), oracle=_bpe_apply_oracle(5))
def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe

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
    oracle=f"""
    WITH ws AS (SELECT doc_id, {words_sql} AS ws FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                      i -> {{'a': ws[i], 'b': ws[i + 1]}})) AS p
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
# Distinctive vocabulary per source — smoothed log-odds ratio with an
# informative 0.5 prior and its z-score (Monroe/Colaresi/Quinn,
# "Fightin' Words", 2008): the corpus-comparison tool that surfaces
# WHICH words make a source different, with variance-aware ranking
# (raw log-odds over-ranks rare words; the z divides by the count-based
# uncertainty). Parity discipline: each ln() quantizes to nano units
# IMMEDIATELY (the repo's rule for libm-scored rankings), the z is
# emitted as an exact micro-unit BIGINT, and ties break on the word —
# the output is all-integer, so the cross-engine hash cannot drift.
# ---------------------------------------------------------------------------

_DISTINCT_MIN_CORPUS_COUNT = 20
_DISTINCT_TOP_K = 5


@register(
    "source_distinctive_terms",
    oracle=rf"""
    WITH wx AS (
        SELECT source, unnest({words_sql}) AS w
        FROM documents
    ),
    sw AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS y
        FROM wx GROUP BY source, w
    ),
    wtot AS (
        SELECT w, CAST(SUM(y) AS BIGINT) AS yw FROM sw GROUP BY w
        HAVING SUM(y) >= {_DISTINCT_MIN_CORPUS_COUNT}
    ),
    stot AS (SELECT source, CAST(SUM(y) AS BIGINT) AS ns FROM sw GROUP BY source),
    tot AS (SELECT CAST(SUM(y) AS BIGINT) AS n FROM sw),
    scored AS (
        SELECT s.source, s.w, s.y,
               CAST(ROUND(ln((s.y + 0.5) / (st.ns - s.y + 0.5))
                          * 1000000000, 0) AS BIGINT)
             - CAST(ROUND(ln((wt.yw - s.y + 0.5)
                             / (t.n - st.ns - (wt.yw - s.y) + 0.5))
                          * 1000000000, 0) AS BIGINT) AS lo_nano,
               sqrt(1.0 / (s.y + 0.5) + 1.0 / (wt.yw - s.y + 0.5)) AS sd
        FROM sw s
        JOIN wtot wt ON wt.w = s.w
        JOIN stot st ON st.source = s.source
        CROSS JOIN tot t
    ),
    z AS (
        SELECT source, w, y,
               CAST(ROUND(lo_nano / (1000.0 * sd), 0) AS BIGINT) AS z_micro
        FROM scored
    ),
    ranked AS (
        SELECT source, w, y, z_micro,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY z_micro DESC, w) AS rk
        FROM z
    )
    SELECT source, CAST(rk AS BIGINT) AS rk, w AS word, y AS n_in_source,
           z_micro
    FROM ranked WHERE rk <= {_DISTINCT_TOP_K}
    ORDER BY source, rk
    """,
)
def source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most distinctive words per source by smoothed log-odds
    z-score. One corpus tokenization pass collapses to the (source,
    word) count relation; everything after is vocabulary-sized
    (word-total and source-total dimensions broadcast). At 100 TB the
    shuffle carries counts, never text, and the min-corpus-count gate
    bounds the scored vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    wx = d.select(
        "source",
        # round 13: codegen tokenizer (see operators.text.words)
        F.explode(text_words(F.col("text"))).alias("w"),
    )
    sw = wx.groupBy("source", "w").agg(F.count(F.lit(1)).cast("long").alias("y"))
    wtot = (
        sw.groupBy("w")
        .agg(F.sum("y").cast("long").alias("yw"))
        .where(F.col("yw") >= _DISTINCT_MIN_CORPUS_COUNT)
    )
    stot = sw.groupBy("source").agg(F.sum("y").cast("long").alias("ns"))
    tot = sw.agg(F.sum("y").cast("long").alias("n"))
    lo_nano = (
        F.round(F.log((F.col("y") + 0.5) / (F.col("ns") - F.col("y") + 0.5)) * 1e9, 0).cast("long")
        - F.round(
            F.log(
                (F.col("yw") - F.col("y") + 0.5)
                / (F.col("n") - F.col("ns") - (F.col("yw") - F.col("y")) + 0.5)
            )
            * 1e9,
            0,
        ).cast("long")
    )
    sd = F.sqrt(1.0 / (F.col("y") + 0.5) + 1.0 / (F.col("yw") - F.col("y") + 0.5))
    z = (
        sw.join(F.broadcast(wtot), "w")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "w",
            "y",
            F.round(lo_nano / (1000.0 * sd), 0).cast("long").alias("z_micro"),
        )
    )
    win = Window.partitionBy("source").orderBy(F.col("z_micro").desc(), "w")
    return (
        z.withColumn("rk", F.row_number().over(win).cast("long"))
        .where(F.col("rk") <= _DISTINCT_TOP_K)
        .select(
            "source", "rk", F.col("w").alias("word"),
            F.col("y").alias("n_in_source"), "z_micro",
        )
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# ROUGE-style n-gram overlap eval (round-6 breadth): the summarization/
# generation eval primitive — ROUGE-1 and ROUGE-2 precision / recall / F1
# with CLIPPED bag counts (overlap per gram = min(count_cand, count_ref),
# Lin 2004), between deterministically paired documents (candidate =
# even doc_id, reference = the next doc_id; a production run swaps in a
# (cand_id, ref_id) pairing table — the plan shape is identical).
#
# Scale: everything is keyed by (pair_id, gram) — one hash aggregate for
# per-doc gram bags, one equi-join per metric order, partial aggregation
# before every shuffle, no pair x pair growth anywhere. All integer ppm
# (floor division both engines), so the hash compare is exact.
# ---------------------------------------------------------------------------
def _rouge_oracle() -> str:
    def metric(tag: str, grams: str) -> str:
        return f"""
    a{tag} AS (SELECT doc_id AS pair_id, g, c FROM {grams} WHERE doc_id % 2 = 0),
    b{tag} AS (SELECT doc_id - 1 AS pair_id, g, c FROM {grams} WHERE doc_id % 2 = 1),
    ov{tag} AS (
        SELECT a.pair_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS n_ov
        FROM a{tag} a JOIN b{tag} b ON a.pair_id = b.pair_id AND a.g = b.g
        GROUP BY a.pair_id
    ),
    ta{tag} AS (SELECT pair_id, CAST(SUM(c) AS BIGINT) AS n FROM a{tag} GROUP BY pair_id),
    tb{tag} AS (SELECT pair_id, CAST(SUM(c) AS BIGINT) AS n FROM b{tag} GROUP BY pair_id)"""

    return f"""
    WITH w AS (SELECT doc_id, {words_sql} AS ws FROM documents),
    uni AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(ws) AS g FROM w) GROUP BY doc_id, g
    ),
    big AS (
        SELECT doc_id, shingle AS g, CAST(COUNT(*) AS BIGINT) AS c
        FROM ({shingles_sql(2, positional=True)})
        GROUP BY doc_id, g
    ),
    pairs AS (
        SELECT a.doc_id AS pair_id FROM documents a
        JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0
    ),{metric("1", "uni")},{metric("2", "big")}
    SELECT p.pair_id,
           COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(ta1.n, 0) AS rouge1_p_ppm,
           COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(tb1.n, 0) AS rouge1_r_ppm,
           (2 * (COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(ta1.n, 0))
              * (COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(tb1.n, 0)))
             // NULLIF((COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(ta1.n, 0))
                     + (COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(tb1.n, 0)), 0)
             AS rouge1_f_ppm,
           COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(ta2.n, 0) AS rouge2_p_ppm,
           COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(tb2.n, 0) AS rouge2_r_ppm,
           (2 * (COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(ta2.n, 0))
              * (COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(tb2.n, 0)))
             // NULLIF((COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(ta2.n, 0))
                     + (COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(tb2.n, 0)), 0)
             AS rouge2_f_ppm
    FROM pairs p
    LEFT JOIN ov1 USING (pair_id) LEFT JOIN ta1 USING (pair_id)
    LEFT JOIN tb1 USING (pair_id)
    LEFT JOIN ov2 USING (pair_id) LEFT JOIN ta2 USING (pair_id)
    LEFT JOIN tb2 USING (pair_id)
    ORDER BY pair_id
    """


@register("rouge_overlap_eval", oracle=_rouge_oracle())
def rouge_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/2 P/R/F1 (clipped bag counts, integer ppm) between
    adjacent-doc_id pairs. See the block comment above for semantics and
    the scale argument; NULL ppm where a side has no grams of that
    order (division guarded by NULLIF on both engines)."""
    from ..operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    # Round-13 opt (guide §2.3/§2.4): ONE documents scan + ONE explode
    # feeds both metric orders — grams carry an `ord` tag (1=unigram,
    # 2=bigram) and the reference/candidate split rides the rows as
    # (pair_id, side) instead of two filtered re-evaluations of each
    # gram relation. The old per-metric {inner join + full-outer join +
    # 3 aggregates} collapses into two stacked aggregates: counts per
    # (pair_id, ord, g) pivoted to (ca, cb) by side, then per (pair_id,
    # ord) the clipped-overlap / total sums. Join semantics preserved
    # exactly: ca/cb stay NULL (never 0) when a side lacks the gram;
    # the overlap term sums only both-sides-present grams (F.least
    # skips nulls, hence the explicit guard); an order absent for a
    # pair yields NULLs exactly like the old left joins. Plan: 29
    # scans / 88 exchanges / 23 jobs -> 2 scans / 4 shuffles.
    # round 13 (codegen, see operators.text.words): unigrams and bag
    # bigrams come from the codegen tokenizer / lookahead-regex capture,
    # concatenated into ONE array and posexploded — the `ord` tag is
    # recovered from the position (the first size(words) elements are
    # the unigrams), replacing the two interpreted struct-tagging
    # transform lambdas with a plain when() over pos. Same rows, same
    # one-scan/one-explode shape as the earlier round-13 rewrite.
    toks = text_ops.words(F.col("text"))
    both = F.concat(toks, text_ops.ngram_array(F.col("text"), 2))
    # the gram array MUST materialize in its own projection before the
    # posexplode: a sibling column (here _nw) next to the generator stops
    # Generate from claiming the array expression, and the concat (two
    # full regex passes over the document) re-evaluates PER OUTPUT GRAM —
    # measured 0.5 -> 7 s at sf0.1 without the barrier.
    pre = d.select(
        (F.col("doc_id") - F.col("doc_id") % 2).alias("pair_id"),
        (F.col("doc_id") % 2).alias("side"),
        F.size(toks).alias("_nw"),
        both.alias("_b"),
    )
    grams = pre.select(
        "pair_id", "side", "_nw", F.posexplode("_b").alias("_p", "g")
    ).select(
        "pair_id",
        "side",
        F.when(F.col("_p") < F.col("_nw"), 1).otherwise(2).alias("ord"),
        "g",
    )
    cnt = grams.groupBy("pair_id", "ord", "g").agg(
        F.sum(F.when(F.col("side") == 0, 1)).alias("ca"),
        F.sum(F.when(F.col("side") == 1, 1)).alias("cb"),
    )
    m = cnt.groupBy("pair_id", "ord").agg(
        F.sum(
            F.when(
                F.col("ca").isNotNull() & F.col("cb").isNotNull(),
                F.least("ca", "cb"),
            )
        )
        .cast("long")
        .alias("ov"),
        F.sum("ca").cast("long").alias("ta"),
        F.sum("cb").cast("long").alias("tb"),
    )
    piv = m.groupBy("pair_id").agg(
        *[
            F.max(F.when(F.col("ord") == o, F.col(c))).alias(f"{c}{o}")
            for o in (1, 2)
            for c in ("ov", "ta", "tb")
        ]
    )
    pairs = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("pair_id"))
        .join(
            d.select((F.col("doc_id") - 1).alias("pair_id")),
            "pair_id",
            "left_semi",
        )
    )
    out = pairs.join(piv, "pair_id", "left")

    def ppm(tag: str) -> list:
        o = f"coalesce(ov{tag}, 0) * 1000000"
        p = f"({o}) div nullif(ta{tag}, 0)"
        r = f"({o}) div nullif(tb{tag}, 0)"
        return [
            F.expr(p).cast("long").alias(f"rouge{tag}_p_ppm"),
            F.expr(r).cast("long").alias(f"rouge{tag}_r_ppm"),
            F.expr(f"(2 * ({p}) * ({r})) div nullif(({p}) + ({r}), 0)")
            .cast("long")
            .alias(f"rouge{tag}_f_ppm"),
        ]

    return out.select("pair_id", *ppm("1"), *ppm("2")).orderBy("pair_id")
