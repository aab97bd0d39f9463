"""Round-6c: probabilistic record linkage (Fellegi & Sunter 1969) and
Good-Turing / Chao1 corpus-coverage estimation.

The entity-resolution family so far is similarity-driven (edit distance,
Jaccard, MinHash/SimHash, SNM). Classical record linkage is DECISION-
driven: candidate pairs are scored by the sum of per-field log
likelihood ratios ln(m/u) (field agrees) or ln((1-m)/(1-u)) (field
disagrees), where m = P(agree | match) is a model constant and
u = P(agree | non-match) is estimated from the data itself as the
probability two RANDOM records agree on the field:

    u_f = sum_v c_v^2 / N^2        (c_v = count of field value v)

Pairs above an upper threshold are links, below a lower threshold
non-links (we emit everything with non-negative total evidence and flag
the upper-threshold links). All arithmetic follows the repo's
integer-quantized log discipline: every ln() takes an exact BIGINT
argument (field m's are rational literals, u's are ppm integers) and is
rounded to nano-units BEFORE any further arithmetic, so both engines
sum identical BIGINTs — no float accumulation order anywhere.

u is computed in the 100 TB-safe ppm-fraction form (round 7 — VERDICT
r6 "What's missing" #3): the naive sum_v c_v^2 / N^2 needs BIGINTs that
overflow past ~3e9 rows (c^2 ~ 9e18); instead each value contributes
c_v * ((1e6 * c_v) div N) — bounded by 1e6 * c_v — and the field's
    u_ppm = clamp( sum_v c_v * ((1e6*c_v) div N)  div N,  1, 999999 )
whose intermediate sum is <= 1e6 * N, inside int64 to N ~ 9.2e12 rows
(beyond any 100 TB document corpus). The [1, 999999] clamp is the
standard guard against infinite weights on near-unique / constant
fields and is mirrored in the oracle; ln(u) becomes
nano_ln(u_ppm) - nano_ln(1e6), still an integer-argument ln.

Scale shape: candidates come from the shared sorted-neighborhood
generator (linear N*W by construction, round6b); u-statistics are three
partial-aggregated two-level hash aggregates whose driver-visible state
is ONE row of scalars (allowlisted 1-row broadcast, the
`doc_unigram_logprob` pattern); scoring is a projection over the
candidate join — no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load_table, register
from .round6b import snm_candidates_shared

#: per-field m = P(field agrees | records match), as exact rationals
#: (numerator, denominator) so ln(m) and ln(1-m) take integer arguments
_M_PREFIX = (19, 20)
_M_LEN = (9, 10)
_M_SRC = (7, 10)

#: upper decision threshold: total log-likelihood ratio >= 1.0 (odds e:1)
_LINK_NANO = 1_000_000_000


def _nano_ln(c: Column) -> Column:
    """round(ln(x) * 1e9) as BIGINT — the quantization unit every weight
    term passes through before any cross-term arithmetic."""
    return F.round(F.log(c.cast("double")) * 1_000_000_000, 0).cast("long")


def _u_ppm_counts(d: DataFrame, col: Column, n_df: DataFrame, alias: str) -> DataFrame:
    """1-row DataFrame holding the field's random-pair agreement
    probability u as a clamped ppm integer:
    clamp(sum_v c_v * ((1e6*c_v) div N) div N, 1, 999999). Every term is
    bounded by 1e6*c_v, so the running sum stays inside int64 to
    N ~ 9.2e12 rows — the 100 TB form of sum(c^2)/N^2."""
    counts = d.groupBy(col.alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        counts.crossJoin(F.broadcast(n_df))
        .agg(
            F.greatest(
                F.least(
                    F.expr(
                        "cast(sum(c * ((1000000 * c) div n)) div min(n) as bigint)"
                    ),
                    F.lit(999_999),
                ),
                F.lit(1),
            )
            .cast("long")
            .alias(alias)
        )
    )


def _weights(u_ppm: Column, m: tuple[int, int]) -> tuple[Column, Column]:
    """(agree, disagree) nano log-likelihood-ratio weights for one field:
    ln(m/u) and ln((1-m)/(1-u)) with u given in ppm, every ln on an
    integer (ln(u) = nano_ln(u_ppm) - nano_ln(1e6))."""
    num, den = m
    million = F.lit(1_000_000)
    ln_u = _nano_ln(u_ppm) - _nano_ln(million)
    ln_1mu = _nano_ln(million - u_ppm) - _nano_ln(million)
    agree = _nano_ln(F.lit(num)) - _nano_ln(F.lit(den)) - ln_u
    disagree = _nano_ln(F.lit(den - num)) - _nano_ln(F.lit(den)) - ln_1mu
    return agree, disagree


_FS_ORACLE = """
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY substring(lower(text), 1, 40), doc_id
               ) AS rk
        FROM documents
    ),
    cand AS (
        SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
               GREATEST(a.doc_id, b.doc_id) AS id_b
        FROM ranked a JOIN ranked b
          ON a.lang = b.lang AND b.rk BETWEEN a.rk + 1 AND a.rk + 4
    ),
    attr AS (
        SELECT doc_id, substring(lower(text), 1, 8) AS pfx,
               n_chars // 8 AS lenb, source AS src
        FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    u1 AS (
        SELECT GREATEST(LEAST(
                 CAST(SUM(c * ((1000000 * c) // n)) // MIN(n) AS BIGINT),
                 999999), 1) AS u_pfx
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM attr GROUP BY pfx),
             tot
    ),
    u2 AS (
        SELECT GREATEST(LEAST(
                 CAST(SUM(c * ((1000000 * c) // n)) // MIN(n) AS BIGINT),
                 999999), 1) AS u_len
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM attr GROUP BY lenb),
             tot
    ),
    u3 AS (
        SELECT GREATEST(LEAST(
                 CAST(SUM(c * ((1000000 * c) // n)) // MIN(n) AS BIGINT),
                 999999), 1) AS u_src
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM attr GROUP BY src),
             tot
    ),
    w AS (
        SELECT
          CAST(ROUND(ln(19) * 1e9, 0) AS BIGINT)
            - CAST(ROUND(ln(20) * 1e9, 0) AS BIGINT)
            - (CAST(ROUND(ln(u_pfx) * 1e9, 0) AS BIGINT)
               - CAST(ROUND(ln(1000000) * 1e9, 0) AS BIGINT)) AS wp_pfx,
          - CAST(ROUND(ln(20) * 1e9, 0) AS BIGINT)
            - (CAST(ROUND(ln(1000000 - u_pfx) * 1e9, 0) AS BIGINT)
               - CAST(ROUND(ln(1000000) * 1e9, 0) AS BIGINT)) AS wm_pfx,
          CAST(ROUND(ln(9) * 1e9, 0) AS BIGINT)
            - CAST(ROUND(ln(10) * 1e9, 0) AS BIGINT)
            - (CAST(ROUND(ln(u_len) * 1e9, 0) AS BIGINT)
               - CAST(ROUND(ln(1000000) * 1e9, 0) AS BIGINT)) AS wp_len,
          - CAST(ROUND(ln(10) * 1e9, 0) AS BIGINT)
            - (CAST(ROUND(ln(1000000 - u_len) * 1e9, 0) AS BIGINT)
               - CAST(ROUND(ln(1000000) * 1e9, 0) AS BIGINT)) AS wm_len,
          CAST(ROUND(ln(7) * 1e9, 0) AS BIGINT)
            - CAST(ROUND(ln(10) * 1e9, 0) AS BIGINT)
            - (CAST(ROUND(ln(u_src) * 1e9, 0) AS BIGINT)
               - CAST(ROUND(ln(1000000) * 1e9, 0) AS BIGINT)) AS wp_src,
          CAST(ROUND(ln(3) * 1e9, 0) AS BIGINT)
            - CAST(ROUND(ln(10) * 1e9, 0) AS BIGINT)
            - (CAST(ROUND(ln(1000000 - u_src) * 1e9, 0) AS BIGINT)
               - CAST(ROUND(ln(1000000) * 1e9, 0) AS BIGINT)) AS wm_src
        FROM u1, u2, u3
    ),
    scored AS (
        SELECT p.id_a, p.id_b,
               a.pfx = b.pfx AS agree_prefix,
               a.lenb = b.lenb AS agree_len,
               a.src = b.src AS agree_src,
               (CASE WHEN a.pfx = b.pfx THEN w.wp_pfx ELSE w.wm_pfx END
                + CASE WHEN a.lenb = b.lenb THEN w.wp_len ELSE w.wm_len END
                + CASE WHEN a.src = b.src THEN w.wp_src ELSE w.wm_src END)
                 AS score_nano
        FROM cand p
        JOIN attr a ON a.doc_id = p.id_a
        JOIN attr b ON b.doc_id = p.id_b, w
    )
    SELECT id_a, id_b, agree_prefix, agree_len, agree_src, score_nano,
           score_nano >= 1000000000 AS is_link
    FROM scored WHERE score_nano >= 0
    ORDER BY id_a, id_b
"""


@register("record_linkage_fellegi_sunter", shares=("snm_candidates",), oracle=_FS_ORACLE)
def record_linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage over SNM candidate pairs:
    fields = (8-char normalized prefix, length-bucket n_chars div 8,
    source), m's fixed rationals, u's estimated from the corpus as
    random-pair agreement rates in the clamped ppm form (100 TB-safe:
    intermediates bounded by 1e6*N — see module docstring), score = sum
    of nano-quantized per-field log likelihood ratios. Emits pairs with
    non-negative total evidence; `is_link` marks the upper-threshold
    decisions."""
    d = load_table(spark, sf_dir, "documents")
    pfx = F.substring(F.lower("text"), 1, 8)
    lenb = F.expr("n_chars div 8")

    attr = d.select(
        "doc_id", pfx.alias("pfx"), lenb.alias("lenb"), F.col("source").alias("src")
    )
    n_df = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = (
        _u_ppm_counts(d, pfx, n_df, "u_pfx")
        .crossJoin(_u_ppm_counts(d, lenb, n_df, "u_len"))
        .crossJoin(_u_ppm_counts(d, F.col("source"), n_df, "u_src"))
    )
    wp_pfx, wm_pfx = _weights(F.col("u_pfx"), _M_PREFIX)
    wp_len, wm_len = _weights(F.col("u_len"), _M_LEN)
    wp_src, wm_src = _weights(F.col("u_src"), _M_SRC)
    weights = stats.select(
        wp_pfx.alias("wp_pfx"),
        wm_pfx.alias("wm_pfx"),
        wp_len.alias("wp_len"),
        wm_len.alias("wm_len"),
        wp_src.alias("wp_src"),
        wm_src.alias("wm_src"),
    )

    cand = snm_candidates_shared(spark, sf_dir)
    a = attr.select(
        F.col("doc_id").alias("id_a"),
        F.col("pfx").alias("pfx_a"),
        F.col("lenb").alias("lenb_a"),
        F.col("src").alias("src_a"),
    )
    b = attr.select(
        F.col("doc_id").alias("id_b"),
        F.col("pfx").alias("pfx_b"),
        F.col("lenb").alias("lenb_b"),
        F.col("src").alias("src_b"),
    )
    score = (
        F.when(F.col("pfx_a") == F.col("pfx_b"), F.col("wp_pfx")).otherwise(
            F.col("wm_pfx")
        )
        + F.when(F.col("lenb_a") == F.col("lenb_b"), F.col("wp_len")).otherwise(
            F.col("wm_len")
        )
        + F.when(F.col("src_a") == F.col("src_b"), F.col("wp_src")).otherwise(
            F.col("wm_src")
        )
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .crossJoin(weights)
        .select(
            "id_a",
            "id_b",
            (F.col("pfx_a") == F.col("pfx_b")).alias("agree_prefix"),
            (F.col("lenb_a") == F.col("lenb_b")).alias("agree_len"),
            (F.col("src_a") == F.col("src_b")).alias("agree_src"),
            score.alias("score_nano"),
        )
        .filter(F.col("score_nano") >= 0)
        .withColumn("is_link", F.col("score_nano") >= _LINK_NANO)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Good-Turing unseen mass + Chao1 richness — the corpus-SATURATION
# diagnostic the text-analysis family lacks: "how much vocabulary have we
# not seen yet?" drives scrape-more vs dedup-harder decisions for a
# training corpus. Good (1953): P(unseen) ~ N1/N (singleton share of
# token mass). Chao (1984): true richness >= V + N1^2 / (2*N2). Both are
# ratios of exact BIGINT frequency-of-frequency counts, so the entry
# stays hash-exact via integer floor division (ppm / x100 units) — no
# float path at all. Scale shape: explode -> two partial-aggregated hash
# aggregates; state is O(vocab) then O(sources), never O(tokens).
# ---------------------------------------------------------------------------
_GT_ORACLE = """
    WITH words AS (
        SELECT source, w
        FROM (SELECT source,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents), UNNEST(ws) AS t(w)
    ),
    wc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM words GROUP BY source, w
    ),
    g AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM wc GROUP BY source
    )
    SELECT source, n_tokens, vocab, n1, n2,
           (1000000 * n1) // n_tokens AS unseen_ppm,
           CASE WHEN n2 > 0
                THEN 100 * vocab + (100 * n1 * n1) // (2 * n2)
           END AS chao1_x100
    FROM g ORDER BY source
"""


@register("good_turing_vocab_coverage", oracle=_GT_ORACLE)
def good_turing_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Good-Turing unseen-probability mass (singletons/tokens,
    ppm) and Chao1 lower-bound vocabulary richness (x100), from exact
    frequency-of-frequency counts — integer floor division only, so the
    result is hash-identical across engines by construction."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    wc = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    g = wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    return g.select(
        "source",
        "n_tokens",
        "vocab",
        "n1",
        "n2",
        F.expr("(1000000 * n1) div n_tokens").alias("unseen_ppm"),
        F.when(
            F.col("n2") > 0,
            100 * F.col("vocab") + F.expr("(100 * n1 * n1) div (2 * n2)"),
        ).alias("chao1_x100"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Pearson chi-square independence audit of the (lang, source) mix — the
# classic contingency-table DQ check: is language distribution
# independent of source? A skewed dependence (e.g. one source carrying
# all of one language) is exactly the mix pathology the temperature/
# quota entries then correct. Float discipline: expected counts and
# per-cell contributions use ONLY IEEE +,-,*,/ (exactly-rounded, so
# deterministic across engines given the identical expression tree —
# unlike libm ln/pow) and each cell is nano-quantized BEFORE any
# summation, so downstream totals are BIGINT sums. Row/col/grand totals
# come from window sums over the ~|langs|x|sources| cell relation
# (bounded, one shuffle), never a second scan.
# ---------------------------------------------------------------------------
_CHI2_ORACLE = """
    WITH seen AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ),
    cells AS (
        SELECT l.lang, s.source, COALESCE(seen.o, 0) AS o
        FROM (SELECT DISTINCT lang FROM documents) l
        CROSS JOIN (SELECT DISTINCT source FROM documents) s
        LEFT JOIN seen ON seen.lang = l.lang AND seen.source = s.source
    ),
    tot AS (
        SELECT lang, source, o,
               CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS r,
               CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS c,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM cells
    )
    SELECT lang, source, o AS observed,
           CAST(ROUND(CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                      / CAST(n AS DOUBLE) * 1000000, 0) AS BIGINT)
             AS expected_ppm,
           CAST(ROUND(1000000000 * ((CAST(o AS DOUBLE)
                        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                          / CAST(n AS DOUBLE))
                      * (CAST(o AS DOUBLE)
                        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                          / CAST(n AS DOUBLE)))
                      / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                         / CAST(n AS DOUBLE)), 0) AS BIGINT)
             AS contrib_nano
    FROM tot ORDER BY lang, source
"""


@register("contingency_chi_square", oracle=_CHI2_ORACLE)
def contingency_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Pearson chi-square decomposition of the (lang, source)
    contingency table: observed count, expected count under independence
    (ppm), and the cell's nano-quantized X^2 contribution — the full
    statistic is the BIGINT sum of `contrib_nano`. One hash aggregate +
    window sums over the bounded cell relation."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    seen = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    # densify: zero cells contribute E to the statistic (bounded
    # |langs| x |sources| grid, the event_type_daily_corr pattern)
    grid = d.select("lang").distinct().crossJoin(d.select("source").distinct())
    cells = grid.join(seen, ["lang", "source"], "left").select(
        "lang", "source", F.coalesce("o", F.lit(0)).cast("long").alias("o")
    )
    tot = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).cast("long").alias("r"),
        F.sum("o").over(Window.partitionBy("source")).cast("long").alias("c"),
        F.sum("o").over(Window.partitionBy()).cast("long").alias("n"),
    )
    e = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("n").cast("double")
    )
    od = F.col("o").cast("double")
    return tot.select(
        "lang",
        "source",
        F.col("o").alias("observed"),
        F.round(e * 1000000, 0).cast("long").alias("expected_ppm"),
        F.round(F.lit(1000000000) * ((od - e) * (od - e)) / e, 0)
        .cast("long")
        .alias("contrib_nano"),
    ).orderBy("lang", "source")
