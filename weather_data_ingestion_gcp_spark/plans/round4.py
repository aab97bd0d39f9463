"""Round-4 additions — training-data pipeline operators (the
plans/llm_ops.py family):

- decontaminate_bloom_prefilter: the 100 TB shape — prune the big side
  map-side against a bounded broadcast bitset BEFORE any shuffle.
- hll_distinct_contract: Spark's built-in approx_count_distinct pinned
  against exact counts (measured-not-assumed, the lsh_recall_contract
  pattern).
- dataset_mix_temperature: T=2 source mixing with exact integer
  normalization.
- packing_padding_efficiency: sequential vs length-bucketed batch
  padding waste, per-bucket windows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..operators import dedup, sketch
from ..operators.sampling import hash_bucket
from ..operators.text import words as text_words
from .oracle_sql import clusters_sql, hash_bucket_sql, shingles_sql, words_sql
from .registry import load_table, register, std_minhash_pairs


@register(
    "decontaminate_bloom_prefilter", shares=("doc_8grams",),
    oracle=rf"""
    WITH sh AS ({shingles_sql(8)}),
    split AS (SELECT doc_id, {hash_bucket_sql("doc_id")} % 100 AS b FROM documents),
    te AS (SELECT sh.doc_id AS test_id, shingle
           FROM sh JOIN split USING (doc_id) WHERE split.b < 10),
    tr AS (SELECT sh.doc_id AS train_id, shingle
           FROM sh JOIN split USING (doc_id) WHERE split.b >= 15),
    kept AS (SELECT shingle FROM tr GROUP BY shingle HAVING COUNT(*) <= 50),
    pairs AS (
        SELECT te.test_id, tr.train_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM te JOIN kept USING (shingle) JOIN tr USING (shingle)
        GROUP BY te.test_id, tr.train_id
        HAVING COUNT(*) >= 2
    )
    SELECT test_id,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(SUM(c) AS BIGINT) AS shared_grams_total
    FROM pairs GROUP BY test_id ORDER BY test_id
    """,
)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a broadcast-bloom prefilter — the 100 TB
    shape of decontaminate_ngram_exact. The test split's 8-grams fold
    into a packed 2^20-bit bloom (bounded 128 KB driver collect and
    broadcast, regardless of corpus size); train grams are pruned
    MAP-SIDE by pure bit arithmetic before the equi-join, so the
    shuffle carries only maybe-contaminating grams instead of the whole
    train corpus. The bloom has no false negatives (identical md5
    arithmetic both sides) and the exact join removes its false
    positives, so the prefilter is result-transparent — the oracle is
    the plain exact-overlap SQL, and the plan pin in
    tests/test_scale_plans.py is what proves the prune actually sits
    under the join. Output is the per-test-document contamination
    summary a curation pipeline keys its drop list off.

    Round-9 restructure (VERDICT r8 #4, the 3rd-decade exp-1.16 fix):
    the entry no longer touches the persisted FULL-corpus 8-gram
    relation at all. The r8 sf100 probe measured that relation
    outgrowing the single box's cache and dragging the decade exponent
    to 1.16 — but this entry only ever needs (a) the TEST split's grams
    (10% of docs, bounded by the split — tokenized directly and
    persisted) and (b) the TRAIN split's grams STREAMED: tokenize ->
    bloom bit-test -> shuffle, fused in one map stage with nothing
    materialized, so the train side's storage footprint is zero at any
    corpus size and only maybe-contaminating grams ever leave the map
    side. (decontaminate_ngram_exact keeps its persisted full-corpus
    relation — without a bloom it genuinely joins the whole train side.)"""
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    # test split: tokenize ONLY the 10% split; persisted because both
    # the bloom build and the exact join consume it
    te = store.keep(
        dedup.shingles(d.filter(b < 10), "doc_id", "text", n=8), big=True
    )
    # adaptive width (r7): a fixed 2^20-bit bloom saturates once the
    # test split carries ~>130k distinct grams and the prune stops
    # pruning — bloom_xl_build sizes the bitset from the measured build
    # cardinality (result-transparent: the exact join removes FPs)
    words, hexw = sketch.bloom_xl_build(te, "shingle")
    # train split: streamed explode with the prune fused above it. The
    # PRUNED relation is persisted — it has two consumers inside
    # ngram_exact_overlap (the stop-gram df count and the join itself),
    # and without the cache each one re-runs the train tokenize
    # (measured: sf1 isolated-warm 9.9 s with the double tokenize). It
    # is O(maybe-contaminating grams) — bounded by the bloom, NOT
    # corpus-sized, so persisting it is safe at any scale.
    tr = dedup.shingles(d.filter(b >= 15), "doc_id", "text", n=8)
    tr_pruned = store.keep(
        sketch.bloom_xl_prune(tr, "shingle", words, hexw)
    )
    out = dedup.ngram_exact_overlap(te, tr_pruned, min_shared=2, max_gram_df=50)
    return (
        out.groupBy(F.col("probe_id").alias("test_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.sum("shared_grams").cast("long").alias("shared_grams_total"),
        )
        .orderBy("test_id")
    )


@register(
    "hll_distinct_contract", shares=("events_users",),
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def hll_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy contract for Spark's native HyperLogLog++
    (approx_count_distinct at rsd=0.05): per event type, the exact
    distinct-user count plus a measured |approx - exact| / exact <= 3*rsd
    verdict. The oracle cannot reproduce Spark's HLL register values, so
    the approximate count itself stays out of the output — what IS
    hash-checked is the exact count and the claim that the sketch met
    its error bound on this data (the lsh_recall_contract pattern:
    sketch accuracy measured, not assumed). At 100 TB the HLL side is
    the one that matters: partial sketches merge map-side, so the
    exchange carries fixed-size registers, not user_id sets."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.05).alias("_approx"),
    )
    return agg.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.15
        ).alias("within_bound"),
    ).orderBy("event_type")


@register(
    "dataset_mix_temperature", shares=("docs_by_lang",),
    oracle=r"""
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
    """,
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
    from pyspark.sql.window import Window

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


@register(
    "neardup_cluster_stats", shares=("minhash_trigram",),
    oracle=f"""
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM ({clusters_sql})
        GROUP BY component
    )
    GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def neardup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-duplicate graph — the dedup
    planning signal ("one 10k-doc boilerplate cluster" vs "5k pairs"):
    how many clusters of each size, and how many documents they hold.
    Reuses the verified-pairs chain (session-cached) + the same
    connected-components operator dedup_clusters hash-checks, so the
    histogram is exact, not sampled. Cluster count is corpus-bounded but
    the histogram itself is tiny (distinct sizes)."""
    from ..operators import graph

    d = load_table(spark, sf_dir, "documents")
    pairs = std_minhash_pairs(spark, sf_dir)
    comp = graph.connected_components(
        d.select("doc_id"), pairs.select("id_a", "id_b")
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "dedup_shrinkage_by_source", shares=("minhash_trigram",),
    oracle=f"""
    WITH assign AS ({clusters_sql})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(d.text)) AS BIGINT) AS n_exact_unique,
           CAST(SUM(CASE WHEN a.component = d.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_neardup_kept
    FROM documents d JOIN assign a ON a.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
)
def dedup_shrinkage_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup shrinkage forecast: raw docs, exact-unique docs
    (distinct content fingerprints), and near-dup survivors (cluster
    representatives — the component label IS the min doc_id by
    construction, so kept == (component = doc_id)). The three columns
    are the before/after counts a curation run reports per source; all
    reuse relations other dedup queries already cache."""
    from ..operators import graph

    d = load_table(spark, sf_dir, "documents")
    pairs = std_minhash_pairs(spark, sf_dir)
    comp = graph.connected_components(
        d.select("doc_id"), pairs.select("id_a", "id_b")
    )
    return (
        d.join(comp, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct(F.md5("text")).cast("long").alias("n_exact_unique"),
            F.sum(
                (F.col("component") == F.col("doc_id")).cast("long")
            ).cast("long").alias("n_neardup_kept"),
        )
        .orderBy("source")
    )


@register(
    "join_skew_profile",
    oracle="""
    WITH counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    top10 AS (
        SELECT CAST(SUM(c) AS BIGINT) AS t
        FROM (SELECT c FROM counts ORDER BY c DESC, user_id LIMIT 10)
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           CAST((MAX(c) * 1000 * COUNT(*)) // SUM(c) AS BIGINT)
             AS skew_factor_milli,
           CAST(((SELECT t FROM top10) * 1000000) // SUM(c) AS BIGINT)
             AS top10_share_ppm
    FROM counts
    """,
)
def join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis for the events.user_id join/agg key — the
    profile you run BEFORE choosing between a plain shuffle join, AQE
    skew splitting, and explicit salting: total rows, distinct keys,
    the heaviest key, skew factor (max/mean, milli-units) and the
    top-10 keys' share (ppm). One keys-sized aggregate + a
    TakeOrderedAndProject top-10 — no full sort, all integer-exact. At
    100 TB the counts relation is keys-sized and the profile costs one
    partial-aggregated scan."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    top10 = (
        counts.orderBy(F.col("c").desc(), "user_id")
        .limit(10)
        .agg(F.sum("c").cast("long").alias("t"))
    )
    return (
        counts.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_key_rows"),
            F.expr("(max(c) * 1000 * count(*)) div sum(c)")
            .cast("long")
            .alias("skew_factor_milli"),
            F.sum("c").cast("long").alias("_n"),
        )
        .crossJoin(F.broadcast(top10))
        .select(
            "n_rows",
            "n_keys",
            "max_key_rows",
            "skew_factor_milli",
            F.expr("(t * 1000000) div _n").cast("long").alias("top10_share_ppm"),
        )
    )
