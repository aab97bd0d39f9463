"""Round-3 corpus-analytics queries: repetition gates, Zipf fit,
cross-source divergence, centroid geometry, anomaly scoring, and exact
heavy hitters via a Misra-Gries candidate pass — the corpus-health
dashboard a 100 TB curation run computes alongside dedup/quality gates
(SURVEY.md §2.8 north-star extensions; no reference file:line — the
reference's analytics surface stops at daily weather rollups,
Load-gcs-to-bq/main.py:86-92, and these extend the same GROUP-BY-and-
window machinery to corpus statistics).

Cross-engine hash discipline (see registry.py contract): every float
aggregate is either (a) summed over integer-quantized terms (BIGINT,
order-free, exact), or (b) a single IEEE double expression over
exact-integer aggregates written IDENTICALLY on both sides — one
division/sqrt chain is correctly-rounded and engine-invariant, unlike
order-dependent double accumulation. Ratios are emitted as FLOOR'd
parts-per-million / milli / centi BIGINTs, never ROUND'd doubles, so no
half-even-vs-half-up disagreement can flip a digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import store
from ..operators import sketch, text
from .core import _cents
from .oracle_sql import (
    clusters_sql,
    hash_bucket_sql,
    shingles_sql,
    winnow_fps_sql,
    words_sql,
)
from .registry import load_table, register, std_minhash_pairs

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
# Label-centroid cosine matrix: mean embedding per label (components
# quantized to exact 1e-6 BIGINTs), then all label-pair cosines from
# exact integer dot products. The centroid relation is O(labels * dim)
# rows — at 100 TB the only full-data pass is the (label, pos) average;
# the geometry runs on a broadcast-sized matrix.
# ---------------------------------------------------------------------------
@register(
    "label_centroid_cosine",
    oracle="""
    WITH comp AS (
        SELECT label, pos, CAST(ROUND(AVG(v) * 1000000, 0) AS BIGINT) AS c
        FROM (SELECT label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY label, pos
    ),
    nrm AS (SELECT label, SUM(c * c) AS n2 FROM comp GROUP BY label),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b, SUM(a.c * b.c) AS dot
        FROM comp a JOIN comp b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           CAST(FLOOR(dot * 1000000.0
                      / NULLIF(sqrt(CAST(na.n2 AS DOUBLE))
                               * sqrt(CAST(nb.n2 AS DOUBLE)), 0)) AS BIGINT)
               AS cos_ppm
    FROM dots
    JOIN nrm na ON na.label = label_a
    JOIN nrm nb ON nb.label = label_b
    ORDER BY label_a, label_b
    """,
)
def label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid cosine similarity — the class-separation
    diagnostic for an embedding table. Float32 inputs make the per-
    (label, pos) double sum EXACT (24-bit mantissas, narrow exponent
    range, 53-bit accumulator), so the 1e-6 quantization sees identical
    values regardless of accumulation order; dot products and norms are
    then exact BIGINT sums and the cosine is one correctly-rounded
    sqrt/divide chain."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", "pos0")
        .agg(F.round(F.avg("v") * 1000000, 0).cast("long").alias("c"))
    )
    nrm = comp.groupBy("label").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    a = comp.alias("a")
    b = comp.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos0") == F.col("b.pos0"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = nrm.alias("na")
    nb = nrm.alias("nb")
    denom = F.nullif(
        F.sqrt(F.col("na.n2").cast("double")) * F.sqrt(F.col("nb.n2").cast("double")),
        F.lit(0.0),
    )
    return (
        dots.join(F.broadcast(na), F.col("na.label") == F.col("label_a"))
        .join(F.broadcast(nb), F.col("nb.label") == F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.floor(F.col("dot") * 1000000.0 / denom).cast("long").alias("cos_ppm"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# Daily per-type anomaly z-scores: the day's mean event value (exact
# integer milli-units from the cents sum) scored against the type's
# 30-day mean/std. All statistics derive from exact BIGINT sums whose
# magnitudes are scale-invariant (per-day MEANS, not totals — the sums
# stay ~1e13 at ANY corpus size), then one shared double formula.
# ---------------------------------------------------------------------------
@register(
    "event_anomaly_zscore",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(FLOOR(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 10.0
                          / COUNT(*)) AS BIGINT) AS avg_milli
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
               SUM(avg_milli) AS s1, SUM(avg_milli * avg_milli) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type AS event_type, day, avg_milli,
           CAST(FLOOR((avg_milli - CAST(s1 AS DOUBLE) / nd) * 1000.0
                      / NULLIF(sqrt((CAST(s2 AS DOUBLE)
                                     - CAST(s1 AS DOUBLE) * s1 / nd) / nd), 0))
                AS BIGINT) AS z_milli,
           COALESCE(ABS(CAST(FLOOR((avg_milli - CAST(s1 AS DOUBLE) / nd) * 1000.0
                      / NULLIF(sqrt((CAST(s2 AS DOUBLE)
                                     - CAST(s1 AS DOUBLE) * s1 / nd) / nd), 0))
                AS BIGINT)) >= 2000, FALSE) AS is_anomaly
    FROM daily d JOIN stats s ON s.event_type = d.event_type
    ORDER BY event_type, day
    """,
)
def event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day) z-score of the day's mean value against the
    type's across-days distribution; |z| >= 2 flags the anomaly. The
    population std comes from exact integer s1/s2 sums via one double
    expression mirrored verbatim in the oracle."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.floor(F.sum(_cents()) * 10.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("avg_milli")
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("avg_milli").alias("s1"),
        F.sum(F.col("avg_milli") * F.col("avg_milli")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("nd")
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("nd")) / F.col("nd")
    z = F.floor(
        (F.col("avg_milli") - mean) * 1000.0 / F.nullif(F.sqrt(var), F.lit(0.0))
    ).cast("long")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "avg_milli",
            z.alias("z_milli"),
            F.coalesce(F.abs(z) >= 2000, F.lit(False)).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
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
            FROM (SELECT n, string_split(trim(seq), ' ') AS t FROM w{r - 1})
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
    ``bpe_learn_merges`` and its shares-adjacent ``bpe_apply_encode``
    (round3b), which otherwise each re-run the documents scan + explode
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
# SemDedup-style semantic pruning: sign-LSH blocked candidate pairs, exact
# cosine verify, greedy keep-lowest-id. The oracle embeds the identical
# md5-derived hyperplane float literals (the similarity_ann_rp_lsh
# pattern), so buckets, cosines, and the kept set all hash-check exactly.
# ---------------------------------------------------------------------------
_SEM_TAU = 0.35
#: sign-LSH bucket cap (round 7): the band space is fixed (2^band_bits
#: signatures), so clustered corpora concentrate a label's vectors into
#: one bucket and the self-join goes quadratic — the 100x probe measured
#: the blow-up at 128k vectors. Over-cap buckets hash-split into
#: ceil(n/cap) md5-hex4 sub-buckets (pairs within a sub-bucket only,
#: ~N*cap/2 total — linear); buckets at or under the cap are untouched,
#: and no sf<=0.1 bucket exceeds 256, so driver-SF outputs are
#: byte-identical to the uncapped form.
_SEM_CAP = 256


def _semantic_dedup_oracle(
    tau: float, n_bits: int = 16, band_bits: int = 4
) -> str:
    from ..operators.similarity import hyperplanes

    W = hyperplanes(n_bits=n_bits, dim=64)

    def lit(w: list) -> str:
        return "[" + ", ".join(repr(x) for x in w) + "]"

    def bit(j: int) -> str:
        return (
            f"(CASE WHEN list_dot_product(v, {lit(W[j])}) > 0 THEN 1 ELSE 0 END)"
        )

    band_rows = []
    for b in range(n_bits // band_bits):
        sig = "0"
        for i in range(band_bits):
            sig = f"({sig} * 2 + {bit(b * band_bits + i)})"
        band_rows.append(f"SELECT vec_id, {b} AS band, {sig} AS bsig FROM e")
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb AS ({bands_sql}),
    bc AS (SELECT band, bsig, COUNT(*) AS bn FROM cb GROUP BY band, bsig),
    cbs AS (
        SELECT cb.vec_id, cb.band, cb.bsig,
               {hash_bucket_sql("cb.vec_id")}
                 % ((bc.bn + {_SEM_CAP - 1}) // {_SEM_CAP}) AS sub
        FROM cb JOIN bc ON bc.band = cb.band AND bc.bsig = cb.bsig
    ),
    pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cbs a JOIN cbs b
          ON a.band = b.band AND a.bsig = b.bsig AND a.sub = b.sub
        WHERE a.vec_id < b.vec_id
    ),
    dup AS (
        SELECT p.id_a, p.id_b
        FROM pairs p JOIN e a ON a.vec_id = p.id_a JOIN e b ON b.vec_id = p.id_b
        WHERE ROUND(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 6) >= {tau}
    ),
    partners AS (
        SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_near FROM (
            SELECT id_a AS vec_id FROM dup
            UNION ALL SELECT id_b FROM dup)
        GROUP BY vec_id
    )
    SELECT e.vec_id,
           COALESCE(e.vec_id IN (SELECT id_b FROM dup), FALSE) = FALSE AS kept,
           COALESCE(p.n_near, 0) AS n_near
    FROM e LEFT JOIN partners p ON p.vec_id = e.vec_id
    ORDER BY e.vec_id
    """


@register("dedup_semantic_prune", shares=("emb_bands",), oracle=_semantic_dedup_oracle(_SEM_TAU))
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup over the embeddings table: kept flag + neighborhood size
    per vector (see operators.similarity.semantic_dedup_prune; bucket
    cap rationale at _SEM_CAP). Composes the session-shared sign-LSH
    band index (one cache entry with similarity_ann_rp_lsh, this
    entry's shares anchor)."""
    from ..operators import similarity
    from .llm_ops import emb_bands_shared

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_prune(
        emb,
        tau=_SEM_TAU,
        max_bucket_size=_SEM_CAP,
        bands=emb_bands_shared(spark, sf_dir),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Winnow-fingerprint overlap pairs: content-overlap candidate generation
# from the MOSS fingerprints — document pairs sharing >= 3 surviving
# fingerprints after a document-frequency cap drops boilerplate-hot
# fingerprints (the stop-gram guard of decontaminate_ngram_exact applied
# to substring fingerprints). Reuses the exact winnow arithmetic the
# summary entry oracles, so the pair relation hash-checks end-to-end.
# ---------------------------------------------------------------------------
_WINNOW_MAX_DF = 10
_WINNOW_MIN_SHARED = 3


def _winnow_pairs_oracle() -> str:
    return f"""
    WITH {winnow_fps_sql},
    fps AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
    rare AS (
        SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {_WINNOW_MAX_DF}
    ),
    kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
    ORDER BY id_a, id_b
    """


@register("winnow_overlap_pairs", shares=("winnow_fingerprints",), oracle=_winnow_pairs_oracle())
def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with substring-level content overlap: shared
    winnowing fingerprints (df-capped) counted per pair. The join runs
    on the rare-fingerprint relation only — the cap bounds per-key join
    fan-out exactly like the LSH bucket cap, keeping the pair space
    linear in shared content, not quadratic in corpus size."""
    d = load_table(spark, sf_dir, "documents")
    fps = text.winnow_fingerprints(
        d, "doc_id", "text", k=8, w=4, output="fps", cache=True
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _WINNOW_MAX_DF)
        .select("fp")
    )
    kept = fps.join(rare, "fp")
    a = kept.select(F.col("doc_id").alias("id_a"), "fp")
    b = kept.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= _WINNOW_MIN_SHARED)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Nearest as-of join — completes the temporal family (backward asof,
# interval, range): each click paired with the closest view either side,
# backward-inclusive / forward-exclusive, |gap| ties resolved backward —
# the convention DuckDB's `<=` / `>` ASOF pair states exactly.
# ---------------------------------------------------------------------------
@register(
    "asof_join_nearest_views",
    oracle="""
    SELECT t.event_id AS click_id, t.user_id AS user_id,
           CASE WHEN f.event_id IS NULL OR (b.event_id IS NOT NULL AND
                     epoch_us(t.ts) - epoch_us(b.ts)
                     <= epoch_us(f.ts) - epoch_us(t.ts))
                THEN b.event_id ELSE f.event_id END AS view_id,
           CASE WHEN b.event_id IS NULL AND f.event_id IS NULL THEN NULL
                WHEN f.event_id IS NULL OR (b.event_id IS NOT NULL AND
                     epoch_us(t.ts) - epoch_us(b.ts)
                     <= epoch_us(f.ts) - epoch_us(t.ts))
                THEN 'b' ELSE 'f' END AS direction,
           CASE WHEN b.event_id IS NULL AND f.event_id IS NULL THEN NULL
                WHEN f.event_id IS NULL OR (b.event_id IS NOT NULL AND
                     epoch_us(t.ts) - epoch_us(b.ts)
                     <= epoch_us(f.ts) - epoch_us(t.ts))
                THEN CAST(epoch_us(t.ts) - epoch_us(b.ts) AS BIGINT)
                ELSE CAST(epoch_us(f.ts) - epoch_us(t.ts) AS BIGINT)
                END AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
      ON t.user_id = b.user_id AND b.ts <= t.ts
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') f
      ON t.user_id = f.user_id AND f.ts > t.ts
    ORDER BY click_id
    """,
)
def asof_join_nearest_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-view attribution for every click (see
    operators.temporal.asof_join_nearest — one union + one window sort,
    two frames; never a range self-join)."""
    from ..operators.temporal import asof_join_nearest

    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join_nearest(
        clicks,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
        tiebreak="event_id",
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("asof_event_id").alias("view_id"),
        F.col("asof_direction").alias("direction"),
        F.col("asof_gap_us").alias("gap_us"),
    ).orderBy("click_id")


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
# Trailing-7-day per-user rolling feature — the RANGE-frame window shape
# feature engineering runs at scale: daily pre-aggregation first (the
# fact table collapses to user x day before any window), then one
# user-partitioned RANGE frame over the day number. Exact integer cents
# end to end.
# ---------------------------------------------------------------------------
@register(
    "rolling_7d_user_value",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT user_id, day,
           cents / 100.0 AS day_value,
           n_events,
           SUM(cents) OVER (
               PARTITION BY user_id
               ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) / 100.0 AS rolling_7d_value,
           CAST(SUM(n_events) OVER (
               PARTITION BY user_id
               ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_7d_events
    FROM daily ORDER BY user_id, day
    """,
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, day): the day's total plus trailing-7-day rolling sums
    via a RANGE frame on the epoch-day number. Calendar-gap-correct
    (unlike a 7-ROW frame) and exact (integer cents under every sum)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(_cents()).alias("cents"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long"))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        "day",
        (F.col("cents") / 100.0).alias("day_value"),
        "n_events",
        (F.sum("cents").over(w) / 100.0).alias("rolling_7d_value"),
        F.sum("n_events").over(w).alias("rolling_7d_events"),
    ).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# Language-ID confusion matrix — the evaluation companion to
# text_langid_scores: declared language vs heuristic prediction, the
# quality report a corpus-mix pipeline reads before trusting a language
# filter. The oracle composes the langid entry's own SQL verbatim, so
# both entries stay definitionally in lockstep.
# ---------------------------------------------------------------------------
def _langid_confusion_oracle() -> str:
    from .registry import ORACLE

    return f"""
    SELECT d.lang AS true_lang, p.pred_lang AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ({ORACLE["text_langid_scores"]}) p
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
# Event-type transition matrix — first-order Markov statistics over each
# user's event sequence: ONE user-partitioned window (lag) then one
# aggregate; probabilities are FLOOR'd ppm of exact transition counts.
# The sequence-modeling prep step (user-behavior chains) on the same
# partitioning the sessionizer uses.
# ---------------------------------------------------------------------------
@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    outdeg AS (
        SELECT from_type, SUM(n_trans) AS n_out FROM trans GROUP BY from_type
    )
    SELECT t.from_type AS from_type, t.to_type AS to_type, t.n_trans AS n_trans,
           CAST(FLOOR(t.n_trans * 1000000.0 / o.n_out) AS BIGINT) AS prob_ppm
    FROM trans t JOIN outdeg o ON o.from_type = t.from_type
    ORDER BY t.from_type, t.to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from, to, count, probability-ppm) over consecutive events per
    user. The lag window and the sessionizer share the (user_id; ts,
    event_id) sort, so at scale the two computations pipeline on one
    exchange."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    outdeg = trans.groupBy("from_type").agg(F.sum("n_trans").alias("n_out"))
    return (
        trans.join(F.broadcast(outdeg), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_trans",
            F.floor(F.col("n_trans") * 1000000.0 / F.col("n_out"))
            .cast("long")
            .alias("prob_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# Embedding outlier scores — cosine of every vector to its own label
# centroid, the mislabeled-example / noise-detection signal an embedding
# QA pass computes. Same exact-integer centroid machinery as the
# label-centroid matrix: centroid components and vector components both
# quantize to 1e-6 BIGINTs, so dots/norms are exact and the score is one
# correctly-rounded sqrt/divide chain.
# ---------------------------------------------------------------------------
_OUTLIER_TAU_PPM = 0  # negative cos-to-centroid => points away => flagged


@register(
    "embedding_outlier_scores",
    oracle=f"""
    WITH comp AS (
        SELECT label, pos, CAST(ROUND(AVG(v) * 1000000, 0) AS BIGINT) AS c
        FROM (SELECT label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY label, pos
    ),
    vq AS (
        -- CAST to DOUBLE before the multiply: DuckDB's FLOAT * INTEGER
        -- stays FLOAT (Spark side casts identically)
        SELECT vec_id, label, pos,
               CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
        FROM (SELECT vec_id, label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
    ),
    dots AS (
        SELECT vq.vec_id, vq.label,
               SUM(vq.q * comp.c) AS dot,
               SUM(vq.q * vq.q) AS vq2,
               SUM(comp.c * comp.c) AS c2
        FROM vq JOIN comp ON comp.label = vq.label AND comp.pos = vq.pos
        GROUP BY vq.vec_id, vq.label
    )
    SELECT vec_id, label,
           CAST(FLOOR(dot * 1000000.0
                      / NULLIF(sqrt(CAST(vq2 AS DOUBLE))
                               * sqrt(CAST(c2 AS DOUBLE)), 0)) AS BIGINT)
               AS cos_ppm,
           COALESCE(CAST(FLOOR(dot * 1000000.0
                      / NULLIF(sqrt(CAST(vq2 AS DOUBLE))
                               * sqrt(CAST(c2 AS DOUBLE)), 0)) AS BIGINT)
                    < {_OUTLIER_TAU_PPM}, FALSE) AS is_outlier
    FROM dots ORDER BY vec_id
    """,
)
def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector cosine to its label centroid (exact-integer arithmetic)
    with an outlier flag — low-similarity members are mislabeled-example
    candidates. The centroid relation is O(labels x dim) and broadcasts;
    the only full-data pass is the quantized posexplode."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", "pos0")
        .agg(F.round(F.avg("v") * 1000000, 0).cast("long").alias("c"))
    )
    vq = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "vec_id",
        "label",
        "pos0",
        # cast BEFORE the multiply: float32 * int stays float32 in Spark
        # but promotes to double in DuckDB — a 1-ulp quantization skew
        F.round(F.col("v").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    dots = (
        vq.join(F.broadcast(comp), ["label", "pos0"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("q") * F.col("c")).alias("dot"),
            F.sum(F.col("q") * F.col("q")).alias("vq2"),
            F.sum(F.col("c") * F.col("c")).alias("c2"),
        )
    )
    cos_ppm = F.floor(
        F.col("dot")
        * 1000000.0
        / F.nullif(
            F.sqrt(F.col("vq2").cast("double")) * F.sqrt(F.col("c2").cast("double")),
            F.lit(0.0),
        )
    ).cast("long")
    return dots.select(
        "vec_id",
        "label",
        cos_ppm.alias("cos_ppm"),
        F.coalesce(cos_ppm < _OUTLIER_TAU_PPM, F.lit(False)).alias("is_outlier"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Leakage-safe train/test split: near-duplicate CLUSTERS are the split
# unit, not documents — a hash split on raw doc_id leaks train content
# into test through near-dups (the contamination the decontamination
# entries then have to scrub). Assigning by the cluster representative's
# hash keeps every near-dup family on one side by construction. The
# oracle composes the same closure as dedup_clusters (oracle_sql.clusters_sql).
# ---------------------------------------------------------------------------
def _leakage_safe_oracle() -> str:
    bucket = hash_bucket_sql("c.component")
    return f"""
    SELECT c.doc_id, c.component,
           CASE WHEN {bucket} % 100 < 80 THEN 'train' ELSE 'test' END AS split
    FROM ({clusters_sql}) c
    ORDER BY c.doc_id
    """


@register("split_leakage_safe", oracle=_leakage_safe_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 split assigned per near-dup cluster (hash of the component
    representative) — every near-duplicate family lands wholly in one
    split. Composes the verified minhash -> connected-components path
    with the deterministic hash bucket the samplers use."""
    from ..operators import graph, sampling

    d = load_table(spark, sf_dir, "documents")
    pairs = std_minhash_pairs(spark, sf_dir)
    comp = graph.connected_components(d.select("doc_id"), pairs.select("id_a", "id_b"))
    split = F.when(
        sampling.hash_bucket(F.col("component")) % 100 < 80, F.lit("train")
    ).otherwise(F.lit("test"))
    return comp.select("doc_id", "component", split.alias("split")).orderBy("doc_id")
