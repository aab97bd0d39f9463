"""Sampling and mixing queries: deterministic hash samples, weighted and
stratified samples, splits, temperature and language mixing, DSIR
targeted selection, shuffling and sharding, sequence packing and
chunking, and the composite curation/pretraining builds.

Parity notes: every sampler hashes with md5 and reads hex digits as
integers identically in both engines (``operators.sampling.hex_int`` /
``oracle_sql.hex_sql``), so membership is deterministic,
partition-invariant and nested across rate changes; quotas and shares
are integer ppm arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import store
from ..operators import sampling, text
from ..operators.sampling import hash_bucket, hex_int
from ..operators.text import ngram_array
from ..operators.text import words as text_words
from .oracle_sql import (
    clusters_sql,
    hash_bucket_sql,
    hex_sql,
    shingles_sql,
    stoplist_sql,
    tokens_sql,
    train_test_split_sql,
    words_sql,
)
from .registry import _nano_ln, load_table, register, std_minhash_pairs


# ---------------------------------------------------------------------------
# Deterministic Bernoulli sample — a pure filter (no shuffle, no RNG): the
# sampling decision is a function of the row key, so retries, engine swaps,
# and repartitions all produce the identical sample.
# ---------------------------------------------------------------------------
_BERNOULLI_PCT = 10


@register(
    "sample_hash_bernoulli",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {hash_bucket_sql('doc_id')} < {_BERNOULLI_PCT}
    ORDER BY doc_id
    """,
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        sampling.bernoulli_hash_sample(d, "doc_id", fraction_pct=_BERNOULLI_PCT)
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
               {hash_bucket_sql('doc_id')} AS b
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
    d = load_table(spark, sf_dir, "documents")
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
               ROUND(pow(({hex_sql('md5(CAST(doc_id AS VARCHAR))')} + 0.5) / 65536.0,
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
    d = load_table(spark, sf_dir, "documents")
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
    d = load_table(spark, sf_dir, "documents")
    order = F.md5(F.col("doc_id").cast("string"))

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
    SELECT {train_test_split_sql('doc_id')} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 2)   AS avg_chars
    FROM documents
    GROUP BY split ORDER BY split
    """,
)
def train_test_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        sampling.train_test_split(d, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("split")
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
    return f"""
    WITH comp AS ({clusters_sql}),
    toks AS (
        SELECT doc_id, COUNT(*) AS n_words,
               SUM(CASE WHEN token IN ({stoplist_sql('en')}) THEN 1 ELSE 0 END) AS sw_hits
        FROM ({tokens_sql}) GROUP BY doc_id
    ),
    keep AS (
        SELECT d.doc_id, d.lang, d.source, t.n_words
        FROM documents d
        JOIN toks t ON t.doc_id = d.doc_id
        JOIN comp c ON c.doc_id = d.doc_id
        WHERE t.n_words >= 30 AND t.sw_hits >= 1
          AND d.doc_id = c.component
          AND {hash_bucket_sql('d.doc_id')} < 50
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

    d = load_table(spark, sf_dir, "documents")
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
    "sequence_pack_offsets",
    oracle=f"""
    WITH t AS (
        SELECT lang, doc_id,
               CAST(len({words_sql}) AS BIGINT) AS n_tokens
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
    d = load_table(spark, sf_dir, "documents")
    from ..operators import packing

    out = packing.pack_offsets(
        d, "doc_id", F.size(text.words(F.col("text"))), "lang", ctx_len=512
    )
    return out.select(
        "lang", "doc_id", "n_tokens", "start_offset", "end_offset",
        "first_chunk", "last_chunk", "n_chunks",
    ).orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# Context-window chunking — the per-document half of training-batch
# construction: fixed-size token spans with overlap, shuffle-free
# (sequence + posexplode per row; row growth bounded by n/stride).
# Complements sequence_pack_offsets (the cross-document packing half).
# ---------------------------------------------------------------------------
# shares: locality only (the same documents word-count scan as the packing report)
@register(
    "chunk_documents_overlap", shares=("doc_chunks",),
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len({words_sql}) AS BIGINT) AS n
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

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    n_tokens = F.size(text.words(F.col("text")))
    return chunk_spans(d, "doc_id", n_tokens, chunk_len=32, overlap=8).select(
        "doc_id", "chunk_idx", "tok_start", "tok_end"
    ).orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# Leakage-safe train/test split: near-duplicate CLUSTERS are the split
# unit, not documents — a hash split on raw doc_id leaks train content
# into test through near-dups (the contamination the decontamination
# entries then have to scrub). Assigning by the cluster representative's
# hash keeps every near-dup family on one side by construction. The
# oracle composes the same closure as dedup_clusters (oracle_sql.clusters_sql).
# ---------------------------------------------------------------------------

#: Train share of the 80/20 split that split_leakage_safe,
#: pretrain_data_build and lm_eval_train_test_split assign by the hash
#: bucket of a cluster or document id (the eval split of the
#: decontamination entries is operators.sampling's)
_TRAIN_PCT = 80


def _split_80_20(key: str) -> Column:
    """'train' for ``key``'s hash bucket below ``_TRAIN_PCT``, else 'test'."""
    return F.when(
        hash_bucket(F.col(key)) < _TRAIN_PCT, F.lit("train")
    ).otherwise(F.lit("test"))


def _split_80_20_sql(key_sql: str) -> str:
    """DuckDB mirror of :func:`_split_80_20`."""
    b = hash_bucket_sql(key_sql)
    return f"CASE WHEN {b} < {_TRAIN_PCT} THEN 'train' ELSE 'test' END"


def _leakage_safe_oracle() -> str:
    return f"""
    SELECT c.doc_id, c.component, {_split_80_20_sql("c.component")} AS split
    FROM ({clusters_sql}) c
    ORDER BY c.doc_id
    """


@register("split_leakage_safe", oracle=_leakage_safe_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 split assigned per near-dup cluster (hash of the component
    representative) — every near-duplicate family lands wholly in one
    split. Composes the verified minhash -> connected-components path
    with the deterministic hash bucket the samplers use."""
    from ..operators import graph

    d = load_table(spark, sf_dir, "documents")
    pairs = std_minhash_pairs(spark, sf_dir)
    comp = graph.connected_components(d.select("doc_id"), pairs.select("id_a", "id_b"))
    return comp.select(
        "doc_id", "component", _split_80_20("component").alias("split")
    ).orderBy("doc_id")


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
        SELECT doc_id, source, len({words_sql}) AS n_tokens FROM documents
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
    split = _split_80_20_sql("k.component")
    return rf"""
    SELECT split, source, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS shard_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM (
        SELECT k.doc_id, k.source, k.n_words,
               {split} AS split,
               CAST(COALESCE(SUM(k.n_words) OVER (
                   PARTITION BY {split}, k.source
                   ORDER BY k.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 // {_SHARD_TOKENS} AS BIGINT) AS shard
        FROM (
            SELECT g.doc_id, g.source, g.n_words, c.component,
                   ROW_NUMBER() OVER (PARTITION BY c.component
                                      ORDER BY g.n_words DESC, g.doc_id) AS rn
            FROM (
                SELECT doc_id, source,
                       len({words_sql}) AS n_words
                FROM documents
                WHERE len({words_sql}) >= 10
            ) g
            JOIN ({clusters_sql}) c ON c.doc_id = g.doc_id
        ) k
        WHERE k.rn = 1
    )
    GROUP BY split, source, shard
    ORDER BY split, source, shard
    """


@register("pretrain_data_build", oracle=_pretrain_build_oracle())
def pretrain_data_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

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
    kept = kept.withColumn("split", _split_80_20("component"))
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
# Train→test LM evaluation (leakage-aware): the unigram model is fit on
# the 80% hash-split train docs ONLY, then scores the held-out 20% —
# the evaluation-hygiene shape every data-quality model run needs
# (doc_unigram_logprob fits on everything; this one cannot leak). OOV
# test words take the add-one unseen mass (c = 0). Same nano-nat
# quantization-before-sum discipline; the model relation is train-vocab
# sized and joins by word (broadcast at test SF, shuffle join at scale).
# ---------------------------------------------------------------------------
def _split_lm_oracle() -> str:
    return rf"""
    WITH wx AS (
        SELECT doc_id, {_split_80_20_sql("doc_id")} AS split,
               unnest({words_sql}) AS w
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
    d = load_table(spark, sf_dir, "documents")
    wx = d.select(
        "doc_id",
        _split_80_20("doc_id").alias("split"),
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


_MIX_TEMPERATURE_ORACLE = r"""
    WITH src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(ROUND(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000, 0)
                    AS BIGINT) AS q
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(q) AS BIGINT) AS qt FROM src)
    SELECT source, n_docs,
           ROUND(CAST(q AS DOUBLE) / qt, 6) AS mix_weight,
           CAST((q * 1000000) // qt AS BIGINT) AS quota_ppm
    FROM src CROSS JOIN tot
    ORDER BY source
    """


@register(
    "dataset_mix_temperature", shares=("docs_by_lang",),
    oracle=_MIX_TEMPERATURE_ORACLE,
)
def dataset_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-T5 / Pile
    recipe at T=2): sampling weight proportional to n_docs^(1/2), so
    small sources are up-weighted relative to proportional mixing
    without dominating. sqrt is IEEE-correctly-rounded in both engines;
    the per-source score quantizes to integer micro-units BEFORE the
    total sum (the repo-wide exact-accumulation discipline), so the
    normalization divides two exact BIGINTs and the hash can't drift
    with accumulation order. quota_ppm floors the per-source share of a
    million-document budget — what a mixing job actually consumes. The
    1-row total rides a scalar broadcast; source cardinality is
    dimension-sized at any corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).withColumn(
        "q",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1000000, 0).cast("long"),
    )
    tot = src.agg(F.sum("q").cast("long").alias("qt"))
    return (
        src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("q").cast("double") / F.col("qt"), 6).alias("mix_weight"),
            F.expr("(q * 1000000) div qt").cast("long").alias("quota_ppm"),
        )
        .orderBy("source")
    )


@register(
    "packing_padding_efficiency", shares=("doc_chunks",),
    oracle=f"""
    WITH docs AS (
        SELECT doc_id,
               CAST(len({words_sql}) AS BIGINT) AS n_words
        FROM documents
    ),
    seq AS (
        SELECT 'sequential' AS method, doc_id // 32 AS batch, n_words
        FROM docs
    ),
    buck AS (
        SELECT 'length_bucketed' AS method,
               (n_words // 16) * 1000000
                 + (ROW_NUMBER() OVER (PARTITION BY n_words // 16
                                       ORDER BY doc_id) - 1) // 32 AS batch,
               n_words
        FROM docs
    ),
    unioned AS (SELECT * FROM seq UNION ALL SELECT * FROM buck),
    per_batch AS (
        SELECT method, batch, COUNT(*) AS n_docs, MAX(n_words) AS mx,
               SUM(n_words) AS toks
        FROM unioned GROUP BY method, batch
    )
    SELECT method,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(toks) AS BIGINT) AS real_tokens,
           CAST(SUM(n_docs * mx - toks) AS BIGINT) AS padded_tokens,
           CAST((SUM(toks) * 1000) // SUM(n_docs * mx) AS BIGINT)
             AS utilization_milli
    FROM per_batch GROUP BY method ORDER BY method
    """,
)
def packing_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste of fixed-size training batches, sequential vs
    length-bucketed: each batch pads every sequence to its max length,
    so utilization = real/padded+real. Sequential batching groups by
    arrival order (doc_id div 32 — deterministic, no sort); bucketed
    batching first groups docs into n_words-div-16 length buckets and
    batches WITHIN each bucket — the scale-safe form of sort-by-length
    (per-bucket windows partition the work; there is never a global
    sort, which is exactly how production batchers do it). All integer
    arithmetic; the report is the two-row method comparison a pipeline
    uses to justify bucketed batching."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        # round 13: codegen tokenizer (see operators.text.words)
        F.size(text_words(F.col("text")))
        .cast("long")
        .alias("n_words"),
    )
    seq = docs.select(
        F.lit("sequential").alias("method"),
        F.expr("doc_id div 32").alias("batch"),
        "n_words",
    )
    w = Window.partitionBy(F.expr("n_words div 16")).orderBy("doc_id")
    buck = docs.select(
        F.lit("length_bucketed").alias("method"),
        (
            F.expr("(n_words div 16) * 1000000")
            + F.expr("cast(row_number() over (partition by (n_words div 16) order by doc_id) - 1 as bigint) div 32")
        ).alias("batch"),
        "n_words",
    )
    per_batch = (
        seq.unionAll(buck)
        .groupBy("method", "batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_words").alias("mx"),
            F.sum("n_words").alias("toks"),
        )
    )
    return (
        per_batch.groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("toks").cast("long").alias("real_tokens"),
            F.sum(F.col("n_docs") * F.col("mx") - F.col("toks"))
            .cast("long")
            .alias("padded_tokens"),
            F.expr("(sum(toks) * 1000) div sum(n_docs * mx)")
            .cast("long")
            .alias("utilization_milli"),
        )
        .orderBy("method")
    )


# ---------------------------------------------------------------------------
# Temperature-mix application: quotas -> keep rates -> actual subsample.
# The standard recipe for realizing target shares w_s from source sizes
# n_s by subsampling: keep rate r_s = C * w_s / n_s with C = min_s
# (n_s / w_s), so the scarcest source keeps everything and every other
# source is downsampled to match the target composition. All arithmetic
# is integer (ppm units) so both engines floor identically, and
# membership is the same 4-hex-digit md5 bucket every sampler in this
# repo uses (deterministic, partition-invariant, nested across rate
# changes).
# ---------------------------------------------------------------------------

def _mix_apply_oracle() -> str:
    return f"""
    WITH mix AS ({_MIX_TEMPERATURE_ORACLE}),
    cal AS (
        SELECT CAST(MIN(n_docs * 1000000 // quota_ppm) AS BIGINT) AS c
        FROM mix
    ),
    rates AS (
        -- divide-before-multiply (exact via the remainder term): the
        -- naive quota_ppm * c can reach n_docs * 1e12 and overflow
        -- BIGINT at very large corpora; this form's intermediates are
        -- bounded by max(keep_ppm, quota_ppm * (n_docs - 1)) ~ 1e6 * n_docs
        SELECT source, n_docs,
               CAST(quota_ppm * ((SELECT c FROM cal) // n_docs)
                    + (quota_ppm * ((SELECT c FROM cal) % n_docs)) // n_docs
                 AS BIGINT) AS keep_ppm
        FROM mix
    ),
    kept AS (
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE {hex_sql('md5(CAST(d.doc_id AS VARCHAR))')} * 1000000 < r.keep_ppm * 65536
        GROUP BY d.source
    ),
    tot AS (SELECT CAST(SUM(n_kept) AS BIGINT) AS tk FROM kept)
    SELECT r.source, r.n_docs, r.keep_ppm,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST((COALESCE(k.n_kept, 0) * 1000000) // (SELECT tk FROM tot)
                AS BIGINT) AS achieved_share_ppm
    FROM rates r LEFT JOIN kept k USING (source)
    ORDER BY source
    """


@register("mix_apply_temperature", oracle=_mix_apply_oracle())
def mix_apply_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applies the ``dataset_mix_temperature`` quotas as an actual
    per-source subsample and reports target-vs-achieved composition.

    Composes the registered diagnosis query verbatim (its quota_ppm
    column IS the target share), calibrates keep rates so the scarcest
    source keeps 100%, and filters the documents table on the
    deterministic doc_id hash bucket. The rates relation is
    dimension-sized and broadcast; the only corpus-scale work is one
    map-side filter + one partial-aggregated count — the exact shape a
    100 TB mixing job runs before writing shards. quota_ppm is bounded
    away from zero for any source with >= 1 doc at realistic source
    counts (share < 1 ppm would floor to 0 and is rejected by the
    calibration MIN's divide)."""
    # round-14 probe, REJECTED (guide §1.1 empirical loop): persisting
    # the composed diagnosis relation (referenced by cal + rates twice;
    # the compiled tree shows 31 documents scans / 110 Exchanges) was
    # measured cold 1.35 -> 3.13 s with warm UNCHANGED (1.16 s) — the
    # entry's cost is per-job fixed overhead (14 jobs warm: broadcast
    # exchanges + AQE stages over dimension-sized relations), not
    # subtree re-execution; the documents aggregate itself runs in
    # 0.15 s and the duplicated subtrees are all post-aggregate 20-row
    # work. At 100 TB the same holds: every duplicated evaluation is
    # O(sources). Left alone.
    mix = dataset_mix_temperature(spark, sf_dir)
    cal = mix.agg(
        F.min(F.expr("n_docs * 1000000 div quota_ppm")).cast("long").alias("c")
    )
    rates = (
        mix.crossJoin(F.broadcast(cal))
        .select(
            "source",
            "n_docs",
            # divide-before-multiply, exact via the remainder term:
            # (q*c) div n == q*(c div n) + (q*(c mod n)) div n for
            # non-negative integers — intermediates stay <= ~1e6 * n_docs
            # (BIGINT-safe to n_docs ~ 9e12) where the naive product
            # could silently wrap in non-ANSI Spark while DuckDB raises
            F.expr(
                "quota_ppm * (c div n_docs)"
                " + (quota_ppm * (c % n_docs)) div n_docs"
            ).cast("long").alias("keep_ppm"),
        )
    )
    d = load_table(spark, sf_dir, "documents")
    bucket = hex_int(F.md5(F.col("doc_id").cast("string")))
    kept = (
        d.join(F.broadcast(rates.select("source", "keep_ppm")), "source")
        .where(bucket * F.lit(1000000) < F.col("keep_ppm") * F.lit(65536))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    )
    tot = kept.agg(F.sum("n_kept").cast("long").alias("tk"))
    return (
        rates.join(kept, "source", "left")
        .withColumn("n_kept", F.coalesce("n_kept", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "keep_ppm",
            "n_kept",
            F.expr("(n_kept * 1000000) div tk")
            .cast("long")
            .alias("achieved_share_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Reproducible global training shuffle, hash-range sharded. A training
# run needs a deterministic global permutation of the corpus (same seed
# -> same order on any cluster, any partitioning) WITHOUT a global sort:
# the shard is the top bits of a seeded hash (terasort's range idea with
# the hash AS the range key), so the "shuffle" is one partial-aggregated
# groupBy — no total-order sort, no row_number bottleneck. Each shard's
# source composition approximates the corpus mix (the well-mixedness a
# training shuffle exists to provide), which the per-shard
# distinct-source count makes checkable cross-engine.
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = "s42:"
_N_TRAIN_SHARDS = 16


@register(
    "training_shuffle_shards",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source, n_chars,
               {hex_sql(f"md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR))")} AS hv
        FROM documents
    )
    SELECT CAST(hv // {65536 // _N_TRAIN_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(hv) AS BIGINT) AS hv_min,
           CAST(MAX(hv) AS BIGINT) AS hv_max
    FROM h GROUP BY shard ORDER BY shard
    """,
)
def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle + 16-way sharding of the
    corpus. Re-running with the same seed reproduces the identical
    shard assignment on any partitioning (pure function of doc_id);
    changing the seed is a fresh permutation. hv_min/hv_max document
    the disjoint hash ranges (shards ARE hash ranges); n_sources shows
    every shard draws from the full source mix."""
    d = load_table(spark, sf_dir, "documents")
    hv = hex_int(F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string"))))
    width = 65536 // _N_TRAIN_SHARDS
    return (
        d.select("source", "n_chars", hv.alias("hv"))
        .groupBy(F.expr(f"hv div {width}").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("hv").cast("long").alias("hv_min"),
            F.max("hv").cast("long").alias("hv_max"),
        )
        .orderBy("shard")
    )


# - `dsir_importance_weights` — Data Selection with Importance Resampling
#   (Xie et al., NeurIPS 2023), the standard recipe for picking raw-pool
#   documents that look like a target domain: hash every word bigram into
#   B buckets, estimate add-1-smoothed bucket distributions for the
#   target (here ``source = 'src0'``) and the raw pool, and score each
#   raw doc by its summed log importance ratio
#   sum_g [ln p_target(bucket(g)) - ln p_raw(bucket(g))]. The existing
#   selection family filters on INTRINSIC quality (Gopher flags, entropy,
#   percentile gates) or dedups; DSIR is the missing TARGETED selector.
#   All in the integer-ln discipline: every ln takes an exact BIGINT
#   (smoothed count or smoothed total), is nano-quantized, and per-doc
#   scores are BIGINT sums of the broadcast 1024-row weight table —
#   hash-identical across engines.
#
# Scale shapes: both are counts-first. DSIR's model state is the B=1024
# bucket table (broadcast; the 100 TB story is literally DSIR's own — the
# hashed distribution is the bounded sufficient statistic, never O(vocab));
# feature extraction is one explode + two partial-aggregated hash
# aggregates; scoring is an equi-join against the broadcast weight table
# plus one per-doc aggregate. PSI reduces events to a
# |event_types| x |magnitude buckets| grid (~5 x 7) before any arithmetic.
#
# int64 bounds: DSIR per-doc |score| <= n_bigrams * ~60e9 — safe to ~1.5e8
# bigrams per document; PSI terms <= 1e6 * ~30e9 ~ 3e16, summed over <= a
# few dozen buckets. Both hold far past the 100x probe point.


#: DSIR hashed-feature dimensionality and target domain
_DSIR_B = 1024
_DSIR_TARGET = "src0"


_DSIR_ORACLE = rf"""
    WITH bg AS (
        SELECT doc_id, d.source, s.shingle AS g
        FROM ({shingles_sql(2, positional=True)}) s JOIN documents d USING (doc_id)
    ),
    bk AS (
        SELECT doc_id, source,
               CAST({hex_sql("md5(g)")} % {_DSIR_B} AS BIGINT) AS b
        FROM bg
    ),
    tc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bk
        WHERE source = '{_DSIR_TARGET}' GROUP BY b
    ),
    rc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bk
        WHERE source <> '{_DSIR_TARGET}' GROUP BY b
    ),
    tot AS (
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bk
           WHERE source = '{_DSIR_TARGET}') AS nt,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bk
           WHERE source <> '{_DSIR_TARGET}') AS nr
    ),
    grid AS (
        SELECT CAST(gs AS BIGINT) AS b
        FROM UNNEST(generate_series(0, {_DSIR_B - 1})) AS g(gs)
    ),
    wt AS (
        SELECT grid.b,
               CAST(ROUND(ln(COALESCE(tc.c, 0) + 1) * 1e9, 0) AS BIGINT)
             - CAST(ROUND(ln(nt + {_DSIR_B}) * 1e9, 0) AS BIGINT)
             - CAST(ROUND(ln(COALESCE(rc.c, 0) + 1) * 1e9, 0) AS BIGINT)
             + CAST(ROUND(ln(nr + {_DSIR_B}) * 1e9, 0) AS BIGINT) AS wn
        FROM grid CROSS JOIN tot
        LEFT JOIN tc ON tc.b = grid.b
        LEFT JOIN rc ON rc.b = grid.b
    ),
    doc AS (
        SELECT bk.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(wt.wn) AS BIGINT) AS weight_nano
        FROM bk JOIN wt ON wt.b = bk.b
        WHERE bk.source <> '{_DSIR_TARGET}'
        GROUP BY bk.doc_id
    )
    SELECT doc_id, n_bigrams, weight_nano
    FROM doc ORDER BY weight_nano DESC, doc_id LIMIT 100
"""


def _dsir_scored_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The with_meta=True scored relation, session-persisted and memoized
    per (session, sf dir) — ONE cache entry feeding both
    ``dsir_importance_weights`` and ``dsir_select_topp`` (its shares
    follower), the repo-wide shared-relation discipline. O(raw-pool
    docs) x 5 narrow columns — bounded far below corpus size, safe to
    persist at any scale."""
    return store.shared(
        spark,
        "dsir_scored",
        sf_dir,
        lambda: dsir_scored_docs(spark, sf_dir, with_meta=True),
    )


def dsir_scored_docs(
    spark: SparkSession, sf_dir: str, with_meta: bool = False
) -> DataFrame:
    """Doc-level DSIR weights for the raw pool (source != target):
    (doc_id, n_bigrams, weight_nano), plus (lang, source) when
    ``with_meta`` — shared by `dsir_importance_weights` (top-100
    showcase) and round-8's `dsir_select_topp` (the apply half). The
    meta columns ride the doc-level groupBy keys (doc_id is unique, so
    they're determined and free)."""
    d = load_table(spark, sf_dir, "documents")
    # both registered consumers pass with_meta=True so they compose ONE
    # canonical plan (doc_id is unique, so the meta keys are determined
    # and value-free); with_meta=False would fork a second full scoring
    # pipeline the CacheManager cannot share
    meta = ["lang", "source"] if with_meta else ["source"]
    # round 13: bigram windows via the codegen lookahead-regex capture
    # (operators.text.ngram_array) instead of the interpreted
    # transform/element_at lambda — byte-identical grams, whole-stage
    # codegen instead of Catalyst interpreted eval (see text.words).
    bk = d.select(
        "doc_id",
        *meta,
        F.explode(ngram_array(F.col("text"), 2)).alias("g"),
    ).select(
        "doc_id",
        *meta,
        hash_bucket(F.col("g"), _DSIR_B).cast("long").alias("b"),
    )
    is_t = F.col("source") == _DSIR_TARGET
    tc = bk.filter(is_t).groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("tc")
    )
    rc = bk.filter(~is_t).groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("rc")
    )
    tot = bk.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("nt"),
        F.sum(F.when(is_t, 0).otherwise(1)).cast("long").alias("nr"),
    )
    grid = spark.range(_DSIR_B).select(F.col("id").alias("b"))
    wn = (
        _nano_ln(F.coalesce(F.col("tc"), F.lit(0)) + 1)
        - _nano_ln(F.col("nt") + F.lit(_DSIR_B))
        - _nano_ln(F.coalesce(F.col("rc"), F.lit(0)) + 1)
        + _nano_ln(F.col("nr") + F.lit(_DSIR_B))
    )
    wt = (
        grid.crossJoin(F.broadcast(tot))
        .join(F.broadcast(tc), "b", "left")
        .join(F.broadcast(rc), "b", "left")
        .select("b", wn.alias("wn"))
    )
    keys = ["doc_id", "lang", "source"] if with_meta else ["doc_id"]
    return (
        bk.filter(~is_t)
        .join(F.broadcast(wt), "b")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("wn").cast("long").alias("weight_nano"),
        )
    )


@register("dsir_importance_weights", shares=("dsir_scored",), oracle=_DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR: score every raw-pool doc (source != 'src0') by its summed
    hashed-bigram log importance ratio against the 'src0' target domain;
    emit the 100 best resampling candidates. See module docstring for
    the arithmetic and scale shape.

    Composes the SAME persisted with_meta=True scored relation as
    round-8's ``dsir_select_topp`` (its shares follower), so the
    scoring pipeline runs once for the pair; the projection here drops
    the meta keys without touching the per-doc sums."""
    return (
        _dsir_scored_shared(spark, sf_dir)
        .select("doc_id", "n_bigrams", "weight_nano")
        .orderBy(F.col("weight_nano").desc(), "doc_id")
        .limit(100)
    )


# `dsir_importance_weights` (round 7) scores the raw pool; a training-data
# build then has to actually CUT the pool — keep the top-p% of documents
# by importance weight and check what the cut did to corpus composition
# (the select-then-measure pattern `mix_apply_temperature` establishes for
# temperature mixing). `dsir_select_topp` closes that loop: it keeps the
# top 10% of scored raw-pool docs by (weight_nano DESC, doc_id) and emits
# the per-(lang, source) composition of the kept set against the raw pool
# in exact ppm integers — the table a data-mix owner reads before signing
# off a targeted re-weighting (does the 'looks like src0' filter quietly
# drop a language?).
#
# Scale shape: the selection needs an exact global top-k over corpus-size
# weights, and a bare `ROW_NUMBER() OVER (ORDER BY ...)` plans a
# SINGLE-TASK sort of the whole pool — the same defect class the round-6
# judge flagged for the SNM rank. The rank here reuses that fix's shape as
# a GLOBAL (unpartitioned) variant: `repartitionByRange` on the sort key
# gives every task a contiguous ~N/n_partitions slice, a local row_number
# windows over the stamped partition id (bounded task size), and the
# global rank adds broadcast per-partition offsets computed from an
# n_partitions-row count aggregate. The pid-stamped relation is persisted
# (the round-8 advisor rule: two consumers of a range exchange must read
# the SAME sampled boundaries, never re-run them). Everything after the
# rank is counts: two (lang x source) aggregates (~30 rows) + a 1-row
# (n, k) scalar broadcast. All arithmetic is BIGINT (ppm shares via
# integer division), so the oracle hash cannot drift.
#
# int64 bounds: 1e6 * pool count per (lang, source) — safe to ~9.2e12
# docs per cell, far past the probe decades.


#: keep the top 1/_DSIR_KEEP_DIV of the scored pool (ceil)
_DSIR_KEEP_DIV = 10


def global_range_rank(df: DataFrame, *order) -> DataFrame:
    """Exact global ROW_NUMBER over ``order`` as a range-partitioned
    two-pass rank — the unpartitioned sibling of `dedup_graph.snm_ranked`
    (same docstring, same advisor-mandated persist of the pid-stamped
    relation; see there for why a bare global window is a single-task
    sort and why the cache pins partition-id consistency). ``order``
    must be a total order for the rank to be partitioning-independent.
    Appends column ``rk`` (LONG, 1-based); all input columns ride
    through."""
    spark = df.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_parts = spark.sparkContext.defaultParallelism
    t = store.keep(
        df.repartitionByRange(n_parts, *order).withColumn(
            "pid", F.spark_partition_id()
        )
    )
    loc = t.withColumn(
        "lrk", F.row_number().over(Window.partitionBy("pid").orderBy(*order))
    )
    cnts = t.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    # the offsets window is n_partitions rows — single tiny task by design
    offs = cnts.select(
        "pid",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("off"),
    )
    return loc.join(F.broadcast(offs), "pid").withColumn(
        "rk", (F.col("off") + F.col("lrk")).cast("long")
    ).drop("pid", "lrk", "off")


_DSIR_TOPP_ORACLE = rf"""
    WITH bg AS (
        SELECT doc_id, d.lang, d.source, s.shingle AS g
        FROM ({shingles_sql(2, positional=True)}) s JOIN documents d USING (doc_id)
    ),
    bk AS (
        SELECT doc_id, lang, source,
               CAST({hex_sql("md5(g)")} % {_DSIR_B} AS BIGINT) AS b
        FROM bg
    ),
    tc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bk
        WHERE source = '{_DSIR_TARGET}' GROUP BY b
    ),
    rc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bk
        WHERE source <> '{_DSIR_TARGET}' GROUP BY b
    ),
    tot AS (
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bk
           WHERE source = '{_DSIR_TARGET}') AS nt,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bk
           WHERE source <> '{_DSIR_TARGET}') AS nr
    ),
    grid AS (
        SELECT CAST(gs AS BIGINT) AS b
        FROM UNNEST(generate_series(0, {_DSIR_B - 1})) AS g(gs)
    ),
    wt AS (
        SELECT grid.b,
               CAST(ROUND(ln(COALESCE(tc.c, 0) + 1) * 1e9, 0) AS BIGINT)
             - CAST(ROUND(ln(nt + {_DSIR_B}) * 1e9, 0) AS BIGINT)
             - CAST(ROUND(ln(COALESCE(rc.c, 0) + 1) * 1e9, 0) AS BIGINT)
             + CAST(ROUND(ln(nr + {_DSIR_B}) * 1e9, 0) AS BIGINT) AS wn
        FROM grid CROSS JOIN tot
        LEFT JOIN tc ON tc.b = grid.b
        LEFT JOIN rc ON rc.b = grid.b
    ),
    doc AS (
        SELECT bk.doc_id, bk.lang, bk.source,
               CAST(SUM(wt.wn) AS BIGINT) AS weight_nano
        FROM bk JOIN wt ON wt.b = bk.b
        WHERE bk.source <> '{_DSIR_TARGET}'
        GROUP BY bk.doc_id, bk.lang, bk.source
    ),
    nk AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST((COUNT(*) + {_DSIR_KEEP_DIV - 1}) // {_DSIR_KEEP_DIV}
                    AS BIGINT) AS k
        FROM doc
    ),
    rk AS (
        SELECT lang, source,
               ROW_NUMBER() OVER (ORDER BY weight_nano DESC, doc_id) AS rk
        FROM doc
    ),
    kept AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM rk CROSS JOIN nk WHERE rk.rk <= nk.k GROUP BY lang, source
    ),
    pool AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM doc GROUP BY lang, source
    )
    SELECT p.lang, p.source,
           CAST(COALESCE(kp.c, 0) AS BIGINT) AS kept_docs,
           p.c AS pool_docs,
           CAST((1000000 * COALESCE(kp.c, 0)) // nk.k AS BIGINT) AS kept_ppm,
           CAST((1000000 * p.c) // nk.n AS BIGINT) AS pool_ppm,
           CAST((1000000 * COALESCE(kp.c, 0)) // nk.k
                - (1000000 * p.c) // nk.n AS BIGINT) AS shift_ppm
    FROM pool p
    LEFT JOIN kept kp ON kp.lang = p.lang AND kp.source = p.source
    CROSS JOIN nk
    ORDER BY p.lang, p.source
"""


@register("dsir_select_topp", shares=("dsir_scored",), oracle=_DSIR_TOPP_ORACLE)
def dsir_select_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply DSIR: keep the top ~10% of raw-pool docs by importance
    weight (ties to the smaller doc_id; pool = raw docs with >= 1
    bigram, identically on both engines) and report the kept-vs-pool
    composition per (lang, source) in exact ppm. See module docstring
    for the rank's scale shape."""
    # compose the session-shared scored relation (one cache entry with
    # dsir_importance_weights, its shares anchor); the projection is
    # a cheap scan of the cached base, so no second persist needed even
    # though the rank below reads it twice

    doc = _dsir_scored_shared(spark, sf_dir).select(
        "doc_id", "lang", "source", "weight_nano"
    )
    ranked = global_range_rank(
        doc, F.col("weight_nano").desc(), F.col("doc_id")
    )
    nk = doc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            f"CAST((count(1) + {_DSIR_KEEP_DIV - 1}) div {_DSIR_KEEP_DIV}"
            " AS BIGINT)"
        ).alias("k"),
    )
    kept = (
        ranked.crossJoin(F.broadcast(nk))
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("kept_docs"))
    )
    pool = doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("pool_docs")
    )
    kept_ppm = F.expr("1000000 * kept_docs div k").cast("long")
    pool_ppm = F.expr("1000000 * pool_docs div n").cast("long")
    return (
        pool.join(kept, ["lang", "source"], "left")
        .crossJoin(F.broadcast(nk))
        .select(
            "lang",
            "source",
            F.coalesce(F.col("kept_docs"), F.lit(0)).cast("long").alias(
                "kept_docs"
            ),
            "pool_docs",
            "n",
            "k",
        )
        .select(
            "lang",
            "source",
            "kept_docs",
            "pool_docs",
            kept_ppm.alias("kept_ppm"),
            pool_ppm.alias("pool_ppm"),
            (kept_ppm - pool_ppm).cast("long").alias("shift_ppm"),
        )
        .orderBy("lang", "source")
    )
