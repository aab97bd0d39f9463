"""Round-11 registry entries.

dedup_repeated_spans adds the span-grain member of the dedup family —
exact substring dedup (Lee et al., ACL'22) sitting between
passage_exact_dedup (fixed passage grain) and the minhash/Jaccard
entries (whole-document similarity grain): it reports WHERE two
documents share verbatim text and for HOW many tokens, which is what a
span-removal curation pass consumes.

Reference parity: the reference engine has no dedup at all (its
"dedup" is day-partition overwrite, sp_raw_to_transformed_update_
weather_data_query.sql:2-5); this extends the training-data-pipeline
surface like the rest of the dedup block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from .oracle_sql import hash_bucket_sql, shingles_sql
from .registry import load_table, register

#: The spans CTE block shared by the finder and scrub oracles
#: (finder/apply pairs mirror their oracles the same way
#: dsir_importance_weights / dsir_select_topp do).
_SQL_SPANS = f"""
    pg AS ({shingles_sql(8, positional=True)}),
    kept AS (SELECT shingle FROM pg GROUP BY shingle
             HAVING COUNT(*) BETWEEN 2 AND 20),
    g AS (SELECT doc_id, pos, shingle FROM pg JOIN kept USING (shingle)),
    m AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
        FROM g a JOIN g b USING (shingle)
        WHERE a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT *,
               pa - ROW_NUMBER() OVER (
                   PARTITION BY id_a, id_b, diag ORDER BY pa) AS grp
        FROM m
    ),
    spans AS (
        SELECT id_a, id_b,
               CAST(MIN(pa) AS BIGINT) AS start_a,
               CAST(MIN(pb) AS BIGINT) AS start_b,
               CAST(COUNT(*) + 7 AS BIGINT) AS token_len
        FROM isl
        GROUP BY id_a, id_b, diag, grp
        HAVING COUNT(*) + 7 >= 12
    )
"""


# shares: the persisted repeated-gram relation the scrub composes verbatim
@register(
    "dedup_repeated_spans", shares=("repeated_spans",),
    oracle=f"""
    WITH {_SQL_SPANS}
    SELECT * FROM spans ORDER BY id_a, id_b, start_a, start_b
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated token spans (>= 12 tokens) between document
    pairs: position-aligned word-8-gram matches coalesced per alignment
    diagonal (operators/dedup.repeated_spans). The 20-occurrence
    stop-gram cap bounds every gram's self-join fan-out at any corpus
    size; islands are one window over the matched rows. Near-copies
    surface as one long span, template reuse as several short ones —
    the whole-doc entries (dedup_minhash_lsh, dedup_ngram_jaccard)
    can't distinguish those two shapes."""
    d = load_table(spark, sf_dir, "documents")
    g = dedup.positioned_shingles(d, "doc_id", "text", n=8)
    out = dedup.repeated_spans(g, n=8, min_tokens=12, max_gram_occ=20)
    return out.orderBy("id_a", "id_b", "start_a", "start_b")


@register(
    "dedup_span_scrub", shares=("repeated_spans",),
    oracle=rf"""
    WITH {_SQL_SPANS},
    rng AS (
        SELECT id_b AS doc_id, start_b AS s, start_b + token_len - 1 AS e
        FROM spans
    ),
    toks AS (
        SELECT doc_id, pos AS p, shingle AS w FROM ({shingles_sql(1, positional=True)})
    ),
    keep AS (
        SELECT t.* FROM toks t
        WHERE NOT EXISTS (
            SELECT 1 FROM rng r
            WHERE r.doc_id = t.doc_id AND t.p BETWEEN r.s AND r.e)
    ),
    before AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_before FROM toks GROUP BY doc_id),
    after AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(w, ' ' ORDER BY p) AS text_clean
        FROM keep GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_before,
           b.n_before - COALESCE(a.n_kept, 0) AS n_removed,
           COALESCE(a.text_clean, '') AS text_clean
    FROM before b LEFT JOIN after a USING (doc_id)
    ORDER BY doc_id
    """,
)
def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of span dedup (the Lee et al. recipe actually cuts
    the duplicated bytes rather than dropping whole documents): remove
    every token of the min-id-loses side (id_b) covered by any repeated
    span, and return the curated corpus — (doc_id, n_before, n_removed,
    text_clean). A fully-duplicated document scrubs to the empty string
    but keeps its row (the curation decision is visible, not silent).

    Scale shape: the span relation is tiny relative to the corpus, so
    the coverage test is a doc_id equi-join with a range residual (span
    fan-out per doc bounded by its span count); the text rebuild is one
    partial-aggregated groupBy over the token relation, and the spans
    plan composes the SAME persisted positioned-gram relation as
    dedup_repeated_spans (CacheManager plan-dedup; shares-adjacent).
    """
    d = load_table(spark, sf_dir, "documents")
    g = dedup.positioned_shingles(d, "doc_id", "text", n=8)
    spans = dedup.repeated_spans(g, n=8, min_tokens=12, max_gram_occ=20)
    rng = spans.select(
        F.col("id_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("token_len") - 1).alias("e"),
    )
    toks = (
        d.select("doc_id", dedup._words(F.col("text")).alias("_ws"))
        .select("doc_id", F.posexplode("_ws").alias("_p", "w"))
        .select("doc_id", (F.col("_p") + 1).cast("long").alias("p"), "w")
    )
    keep = toks.join(
        rng,
        (toks.doc_id == rng.doc_id)
        & (toks.p >= rng.s)
        & (toks.p <= rng.e),
        "left_anti",
    )
    before = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_before"))
    after = keep.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        # round 13: GetArrayStructFields (codegen) instead of a
        # transform lambda (interpreted eval) for the ordered projection
        F.concat_ws(
            " ",
            F.array_sort(F.collect_list(F.struct("p", "w"))).getField("w"),
        ).alias("text_clean"),
    )
    return (
        before.join(after, "doc_id", "left")
        .select(
            "doc_id",
            "n_before",
            (F.col("n_before") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
        .orderBy("doc_id")
    )


@register(
    "decontaminate_span_provenance",
    oracle=rf"""
    WITH pg AS ({shingles_sql(8, positional=True)}),
    split AS (SELECT doc_id, {hash_bucket_sql("doc_id")} % 100 AS b FROM documents),
    te AS (SELECT pg.doc_id AS probe_id, pos AS pa, shingle
           FROM pg JOIN split USING (doc_id) WHERE split.b < 10),
    tr0 AS (SELECT pg.doc_id AS corpus_id, pos AS pb, shingle
            FROM pg JOIN split USING (doc_id) WHERE split.b >= 15),
    kept AS (SELECT shingle FROM tr0 GROUP BY shingle HAVING COUNT(*) <= 20),
    tr AS (SELECT tr0.* FROM tr0 JOIN kept USING (shingle)),
    m AS (SELECT probe_id, corpus_id, pa, pb, pa - pb AS diag
          FROM te JOIN tr USING (shingle)),
    isl AS (SELECT *, pa - ROW_NUMBER() OVER (
                PARTITION BY probe_id, corpus_id, diag ORDER BY pa) AS grp
            FROM m),
    spans AS (
        SELECT probe_id, corpus_id,
               CAST(MIN(pa) AS BIGINT) AS start_test,
               CAST(MIN(pb) AS BIGINT) AS start_train,
               CAST(COUNT(*) + 7 AS BIGINT) AS token_len
        FROM isl GROUP BY probe_id, corpus_id, diag, grp
        HAVING COUNT(*) + 7 >= 12),
    ranked AS (SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY probe_id
                   ORDER BY token_len DESC, corpus_id, start_test, start_train
               ) AS rk FROM spans)
    SELECT probe_id AS test_id, corpus_id AS train_id,
           start_test, start_train, token_len
    FROM ranked WHERE rk = 1 ORDER BY test_id
    """,
)
def decontaminate_span_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination provenance (the GPT-3-appendix-style exclusion
    report, upgraded from counts to SPANS): for every test-split doc
    sharing a verbatim run of >= 12 tokens with a train-split doc,
    report the LONGEST such span — which train doc, and where in both
    texts. Composes the positioned-gram machinery cross-set
    (operators/dedup.cross_repeated_spans): only the train side carries
    the stop-gram cap (a gram once-in-test + once-in-train is a
    legitimate leak), the probe side is the small split by
    construction, islands are one window per (pair, diagonal), and the
    per-test argmax is a deterministic ROW_NUMBER pick (token_len DESC,
    then ids/positions). Same doc-id-hash split as
    decontaminate_ngram_exact, so the two reports cross-reference."""
    from ..operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    g = dedup.positioned_shingles(d, "doc_id", "text", n=8)
    b = hash_bucket(F.col("doc_id"))
    # round-14 probe, REJECTED at decade scale (see the twin comment in
    # decontaminate_ngram_exact): filtering the positioned-gram relation
    # directly on the md5 bucket moves the md5 from once-per-document to
    # once-per-gram-row — the sf10 A/B on the ngram twin measured warm
    # 16 -> 106 s. The broadcast semi-join stays.
    te = g.join(d.filter(b < 10).select("doc_id"), "doc_id", "left_semi")
    tr = g.join(d.filter(b >= 15).select("doc_id"), "doc_id", "left_semi")
    spans = dedup.cross_repeated_spans(
        te, tr, n=8, min_tokens=12, max_corpus_occ=20
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.col("token_len").desc(), "corpus_id", "start_probe", "start_corpus"
    )
    return (
        spans.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("probe_id").alias("test_id"),
            F.col("corpus_id").alias("train_id"),
            F.col("start_probe").alias("start_test"),
            F.col("start_corpus").alias("start_train"),
            "token_len",
        )
        .orderBy("test_id")
    )
