"""Dataset-curation queries: deterministic sampling, splits, text
normalization, PII scrubbing, n-gram stats, and multi-dimensional dataset
summaries — the batch surface a 100 TB training-data pipeline runs between
ingest and tokenization (SURVEY.md §2.8 north-star extensions).

Parity notes: sampling/splits hash with md5 and convert hex to integers
via a position-arithmetic expression both engines evaluate identically
(DuckDB 1.0 has no hex->int cast); regex character classes are ASCII-only
so Java regex (Spark) and RE2 (DuckDB) agree; DuckDB ``regexp_replace``
needs the explicit ``'g'`` flag to match Spark's global-replace default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sampling, text
from .registry import load_table, register, std_minhash_pairs, _sql_hex4_to_int  # noqa: F401 (re-export)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)





# ---------------------------------------------------------------------------
# Deterministic Bernoulli sample — a pure filter (no shuffle, no RNG): the
# sampling decision is a function of the row key, so retries, engine swaps,
# and repartitions all produce the identical sample.
# ---------------------------------------------------------------------------
@register(
    "sample_hash_bernoulli",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_sql_hex4_to_int('doc_id')} % 100 < 10
    ORDER BY doc_id
    """,
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        sampling.bernoulli_hash_sample(d, "doc_id", fraction_pct=10)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


#: Language mixture for the dataset_mix entry (pct kept per language).
_MIX_RATES = {"en": 100, "de": 60, "es": 40, "fr": 30, "zh": 20}


# shares: locality only (the same documents scan as the temperature mix)
@register(
    "dataset_mix_by_lang", shares=("docs_by_lang",),
    oracle=f"""
    WITH rated AS (
        SELECT lang, n_chars,
               CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 60
                         WHEN 'es' THEN 40 WHEN 'fr' THEN 30
                         WHEN 'zh' THEN 20 ELSE 0 END AS keep_pct,
               {_sql_hex4_to_int('doc_id')} % 100 AS b
        FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                         AS n_total,
           CAST(SUM(CASE WHEN b < keep_pct THEN 1 ELSE 0 END) AS BIGINT)
                                                            AS n_kept,
           CAST(SUM(CASE WHEN b < keep_pct THEN n_chars ELSE 0 END) AS BIGINT)
                                                            AS kept_chars
    FROM rated GROUP BY lang ORDER BY lang
    """,
)
def dataset_mix_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition mixing (sampling.dataset_mix): per-language keep
    rates ride a broadcast rates dimension; membership is the
    deterministic doc_id hash bucket, so kept sets are nested across rate
    changes (re-tuning a mixture never churns previously-kept rows).
    Summarized per language against a CASE-expression oracle."""
    d = _t(spark, sf_dir, "documents")
    kept = sampling.dataset_mix(d, "lang", "doc_id", _MIX_RATES).select(
        "doc_id", F.col("lang").alias("k_lang"), F.col("n_chars").alias("k_chars")
    )
    return (
        d.join(kept, d.doc_id == kept.doc_id, "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(kept.k_lang.isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.coalesce(kept.k_chars, F.lit(0))).cast("long").alias("kept_chars"),
        )
        .orderBy("lang")
    )




@register(
    "sample_weighted_topk",
    oracle=f"""
    SELECT doc_id, n_chars, sample_key FROM (
        SELECT doc_id, n_chars,
               ROUND(pow(({_sql_hex4_to_int('doc_id')} + 0.5) / 65536.0,
                   1.0 / n_chars), 6) AS sample_key
        FROM documents)
    ORDER BY sample_key DESC, doc_id LIMIT 100
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted without-replacement sample (sampling.weighted_sample_topk):
    A-ES keys u^(1/weight) with a deterministic md5-uniform, top-100 by
    QUANTIZED key (6 decimals, doc_id tiebreak — pow() is libm-dependent
    and last-ulp disagreements flip the top-k boundary at sf0.1; the
    rounded comparator makes the sample engine-invariant). Longer
    documents (n_chars as weight) are proportionally likelier — the
    length-balanced selection a curation pipeline uses. Plan is
    TakeOrderedAndProject (local top-k + driver heap merge, no sort)."""
    d = _t(spark, sf_dir, "documents")
    out = sampling.weighted_sample_topk(d, "doc_id", "n_chars", k=100)
    return out.select("doc_id", "n_chars", "sample_key")


# ---------------------------------------------------------------------------
# Stratified per-group quota: at most 20 docs per language, hash-ordered.
# WindowGroupLimit stops ranking past the quota instead of sorting whole
# strata — the shape that survives a 1000-executor scale-up.
# ---------------------------------------------------------------------------
@register(
    "sample_stratified_quota",
    oracle="""
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
    FROM (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    WHERE rn <= 20
    ORDER BY lang, rn
    """,
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    order = F.md5(F.col("doc_id").cast("string"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(order, "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "rn")
        .orderBy("lang", "rn")
    )


# ---------------------------------------------------------------------------
# Hash-keyed train/test/holdout split: membership is a function of doc_id
# alone, so re-ingestion never leaks a document across splits.
# ---------------------------------------------------------------------------
@register(
    "train_test_split_stats",
    oracle=f"""
    SELECT CASE WHEN b < 10 THEN 'test' WHEN b < 15 THEN 'holdout'
                ELSE 'train' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 2)   AS avg_chars
    FROM (SELECT n_chars, {_sql_hex4_to_int('doc_id')} % 100 AS b
          FROM documents)
    GROUP BY split ORDER BY split
    """,
)
def train_test_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        sampling.train_test_split(d, "doc_id", test_pct=10, holdout_pct=5)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Canonical text normalization — lowercase, strip punctuation, collapse
# whitespace. Map-only stage, whole-stage codegen end to end.
# ---------------------------------------------------------------------------
@register(
    "text_normalize_clean",
    oracle=r"""
    SELECT doc_id,
           substring(norm, 1, 40)     AS prefix40,
           CAST(length(norm) AS BIGINT) AS n_clean_chars
    FROM (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
          FROM documents)
    ORDER BY doc_id
    """,
)
def text_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
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
    d = _t(spark, sf_dir, "documents").select(
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
    oracle=r"""
    WITH toks AS (
        SELECT list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS ts
        FROM documents),
    bg AS (
        SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
                                     i -> ts[i] || ' ' || ts[i + 1])) AS bigram
        FROM toks WHERE len(ts) >= 2)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 50
    """,
)
def ngram_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text.bigram_counts(d, "text", k=50)


# ---------------------------------------------------------------------------
# Dataset composition summary over CUBE(lang, source) — every marginal in
# one pass (Spark expands grouping sets before the single shuffle).
# ---------------------------------------------------------------------------
@register(
    "cube_lang_source_stats",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)  AS total_chars,
           ROUND(AVG(n_chars), 2)        AS avg_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
)
def cube_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Capstone: the full curation pipeline as ONE composed query — quality
# filter -> dedup-cluster representative keep -> deterministic hash sample
# -> composition summary. Each stage is an operator already verified in
# isolation; this entry verifies the COMPOSITION end-to-end against a
# single oracle (the real guarantee a pipeline user needs). All filters are
# integer-exact across engines (token counts, stopword hits, md5 buckets,
# min-id cluster representatives) — no float-boundary membership anywhere.
# Scale shape: quality features are map-side expressions; clustering is the
# iterative pair graph (tiny relative to the corpus); the sample is a pure
# filter; the summary is one map-side-combining aggregate.
# ---------------------------------------------------------------------------
def _curation_oracle() -> str:
    from .llm_ops import _SQL_SHINGLES3, _SQL_TOKENS, _sql_stoplist

    return rf"""
    WITH RECURSIVE sh AS ({_SQL_SHINGLES3}),
    sig AS (
        SELECT doc_id, s.seed,
               MIN(md5(shingle || '|' || CAST(s.seed AS VARCHAR))) AS minhash
        FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed) s
        GROUP BY doc_id, s.seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(CAST(seed // 2 AS VARCHAR) || '|' ||
                   string_agg(minhash, '|' ORDER BY minhash)) AS band_key
        FROM sig GROUP BY doc_id, band
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band_key)
        WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.id_a
        JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
        GROUP BY p.id_a, p.id_b
    ),
    good AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes na ON na.doc_id = i.id_a
        JOIN sizes nb ON nb.doc_id = i.id_b
        WHERE i.n_inter * 1.0 / (na.n + nb.n - i.n_inter) >= 0.5
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM good
              UNION SELECT id_b, id_a FROM good),
    reach AS (
        SELECT doc_id AS a, doc_id AS b FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
    toks AS (
        SELECT doc_id, COUNT(*) AS n_words,
               SUM(CASE WHEN token IN ({_sql_stoplist('en')}) THEN 1 ELSE 0 END) AS sw_hits
        FROM ({_SQL_TOKENS}) GROUP BY doc_id
    ),
    keep AS (
        SELECT d.doc_id, d.lang, d.source, t.n_words
        FROM documents d
        JOIN toks t ON t.doc_id = d.doc_id
        JOIN comp c ON c.doc_id = d.doc_id
        WHERE t.n_words >= 30 AND t.sw_hits >= 1
          AND d.doc_id = c.component
          AND {_sql_hex4_to_int('d.doc_id')} % 100 < 50
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT)     AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           ROUND(AVG(n_words), 2)       AS avg_words
    FROM keep GROUP BY lang, source ORDER BY lang, source
    """


@register("curation_pipeline_keep", oracle=_curation_oracle())
def curation_pipeline_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup, graph

    d = _t(spark, sf_dir, "documents")
    q = text.quality_features(d, "text").select(
        "doc_id", "n_words", "stopword_ratio"
    )
    pairs = std_minhash_pairs(spark, sf_dir)
    comp = graph.connected_components(
        d.select("doc_id"), pairs.select("id_a", "id_b")
    )
    keep = (
        d.join(q, "doc_id")
        .join(comp, "doc_id")
        .filter(
            (F.col("n_words") >= 30)
            & (F.col("stopword_ratio") > 0)  # == sw_hits >= 1, integer-exact
            & (F.col("doc_id") == F.col("component"))
        )
    )
    sampled = sampling.bernoulli_hash_sample(keep, "doc_id", fraction_pct=50)
    return (
        sampled.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.round(F.avg("n_words"), 2).alias("avg_words"),
        )
        .orderBy("lang", "source")
    )


@register(
    "quality_repetition_signals",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS ws
        FROM documents),
    uni AS (SELECT doc_id, unnest(ws) AS w FROM toks),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM uni GROUP BY doc_id, w),
    ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                  COUNT(*) AS n_uniq, MAX(c) AS top_n
           FROM wc GROUP BY doc_id),
    bgl AS (SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                          i -> ws[i] || ' ' || ws[i+1])) AS g
            FROM toks),
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
    d = _t(spark, sf_dir, "documents")
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
            "doc_id", F.explode(text.bigrams(F.col("_ws"), tokenized=True)).alias("g")
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


@register(
    "sequence_pack_offsets",
    oracle=r"""
    WITH t AS (
        SELECT lang, doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents),
    c AS (
        SELECT lang, doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS end_offset
        FROM t)
    SELECT lang, doc_id, n_tokens,
           end_offset - n_tokens AS start_offset, end_offset,
           (end_offset - n_tokens) // 512 AS first_chunk,
           (end_offset - 1) // 512 AS last_chunk,
           (end_offset - 1) // 512 - (end_offset - n_tokens) // 512 + 1 AS n_chunks
    FROM c ORDER BY lang, doc_id
    """,
)
def sequence_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (operators/packing.pack_offsets):
    concatenate each language shard's documents in doc_id order and cut
    every 512 tokens; report each document's running token offsets and the
    context-window span it lands in. One cumulative-sum window per shard —
    packing a 100 TB corpus stays embarrassingly parallel across shards
    instead of serializing through a global order."""
    d = _t(spark, sf_dir, "documents")
    from ..operators import packing

    out = packing.pack_offsets(
        d, "doc_id", F.size(text.words(F.col("text"))), "lang", ctx_len=512
    )
    return out.select(
        "lang", "doc_id", "n_tokens", "start_offset", "end_offset",
        "first_chunk", "last_chunk", "n_chunks",
    ).orderBy("lang", "doc_id")


@register(
    "incremental_ingest_dedup",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, lang, text, {_sql_hex4_to_int('doc_id')} % 100 AS b
        FROM documents),
    inc AS (SELECT doc_id, lang, text FROM split WHERE b < 30),
    corp AS (SELECT DISTINCT text FROM split WHERE b >= 30)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN c.text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM inc LEFT JOIN corp c ON inc.text = c.text
    GROUP BY lang ORDER BY lang
    """,
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest exact dedup, Bloom-pruned: incoming documents
    (hash bucket < 30) are kept only if their exact text is absent from
    the already-ingested corpus (bucket >= 30). The Bloom bit-set of the
    corpus (bounded, broadcast — operators/sketch) first classifies each
    incoming doc: definite-new rows SKIP the verify join entirely (no
    false negatives), and only maybe-members anti-join against the corpus
    — at 100 TB that turns a full fact-fact anti-join into a broadcast
    probe plus a join over the (tiny) maybe set. The oracle is the plain
    anti-join, proving the pruned composition is semantics-neutral."""
    from ..operators import sketch

    d = _t(spark, sf_dir, "documents")
    b = sampling.hash_bucket(F.col("doc_id"))
    inc = d.filter(b < 30).select("doc_id", "lang", "text")
    corp = d.filter(b >= 30).select("text").distinct()
    bits = sketch.bloom_build(corp, "text")
    probed = sketch.bloom_probe(inc, bits, "doc_id", "text")
    definite_new = inc.join(
        probed.filter(F.col("maybe_member") == 0).select("doc_id"), "doc_id", "left_semi"
    )
    maybes = inc.join(
        probed.filter(F.col("maybe_member") == 1).select("doc_id"), "doc_id", "left_semi"
    )
    verified_new = maybes.join(corp, "text", "left_anti")
    kept = definite_new.unionByName(verified_new).select(
        F.col("doc_id").alias("k_id"), F.col("lang").alias("k_lang")
    )
    return (
        inc.join(kept, inc.doc_id == kept.k_id, "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_incoming"),
            F.sum(F.when(F.col("k_id").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Context-window chunking — the per-document half of training-batch
# construction: fixed-size token spans with overlap, shuffle-free
# (sequence + posexplode per row; row growth bounded by n/stride).
# Complements sequence_pack_offsets (the cross-document packing half).
# ---------------------------------------------------------------------------
# shares: locality only (the same documents word-count scan as the packing report)
@register(
    "chunk_documents_overlap", shares=("doc_chunks",),
    oracle=r"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                        w -> w <> '')) AS BIGINT) AS n
        FROM documents WHERE doc_id < 2000
    ),
    c AS (
        SELECT doc_id, n,
               CASE WHEN n <= 32 THEN 1
                    ELSE CAST(ceil((n - 32) * 1.0 / 24) AS BIGINT) + 1
               END AS n_chunks
        FROM d
    )
    SELECT doc_id,
           CAST(i AS INTEGER)                 AS chunk_idx,
           CAST(i * 24 AS BIGINT)             AS tok_start,
           LEAST(i * 24 + 32, n)              AS tok_end
    FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 32-token chunks with 8-token overlap (stride 24) per
    document (operators.packing.chunk_spans): one output row per training
    chunk with its [tok_start, tok_end) span. Whitespace word count
    stands in for the tokenizer count — the span arithmetic is the
    operator; swapping in a real tokenizer changes only the n_tokens
    expression."""
    from ..operators.packing import chunk_spans

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    n_tokens = F.size(text.words(F.col("text")))
    return chunk_spans(d, "doc_id", n_tokens, chunk_len=32, overlap=8).select(
        "doc_id", "chunk_idx", "tok_start", "tok_end"
    ).orderBy("doc_id", "chunk_idx")


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
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
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
    oracle=r"""
    WITH uni AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                      w -> w <> '')) AS w
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
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
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
@register(
    "html_strip_markup",
    oracle=r"""
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
               trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                       regexp_replace(text, '<[^>]+>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                   '\s+', ' ', 'g')) AS clean,
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
    d = _t(spark, sf_dir, "documents").select(
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
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
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
