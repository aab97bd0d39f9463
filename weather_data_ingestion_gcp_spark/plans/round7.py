"""Round-7 additions: DSIR importance weighting and PSI drift.

Two genuinely uncovered niches of the training-data surface:

- `dsir_importance_weights` — Data Selection with Importance Resampling
  (Xie et al., NeurIPS 2023), the standard recipe for picking raw-pool
  documents that look like a target domain: hash every word bigram into
  B buckets, estimate add-1-smoothed bucket distributions for the
  target (here ``source = 'src0'``) and the raw pool, and score each
  raw doc by its summed log importance ratio
  sum_g [ln p_target(bucket(g)) - ln p_raw(bucket(g))]. The existing
  selection family filters on INTRINSIC quality (Gopher flags, entropy,
  percentile gates) or dedups; DSIR is the missing TARGETED selector.
  All in the integer-ln discipline: every ln takes an exact BIGINT
  (smoothed count or smoothed total), is nano-quantized, and per-doc
  scores are BIGINT sums of the broadcast 1024-row weight table —
  hash-identical across engines.

- `psi_value_drift` — Population Stability Index, the industry-standard
  distribution-drift monitor (complements the rank family: KS/MWU catch
  location shifts, chi-square tests independence, PSI quantifies
  bucket-mass movement): PSI = sum_i (p_i - q_i) * ln(p_i / q_i)
  between each event type's first-half and second-half value-magnitude
  distributions (the 30-day window split at min_day + 15). Counts are
  add-1 smoothed on a densified (event_type x bucket) grid, converted
  to clamped ppm fractions, and each term is
  (p_ppm - q_ppm) * (nano_ln(p_ppm) - nano_ln(q_ppm)) — non-negative by
  construction, BIGINT-exact, summed then floor-divided by 1e9 so the
  result is PSI in ppm. PSI >= 0.1 (100000 ppm) flags instability.

Scale shapes: both are counts-first. DSIR's model state is the B=1024
bucket table (broadcast; the 100 TB story is literally DSIR's own — the
hashed distribution is the bounded sufficient statistic, never O(vocab));
feature extraction is one explode + two partial-aggregated hash
aggregates; scoring is an equi-join against the broadcast weight table
plus one per-doc aggregate. PSI reduces events to a
|event_types| x |magnitude buckets| grid (~5 x 7) before any arithmetic.

int64 bounds: DSIR per-doc |score| <= n_bigrams * ~60e9 — safe to ~1.5e8
bigrams per document; PSI terms <= 1e6 * ~30e9 ~ 3e16, summed over <= a
few dozen buckets. Both hold far past the 100x probe point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import store
from ..operators.sampling import hash_bucket
from ..operators.text import ngram_array
from .registry import _sql_hex4_to_int, load_table, register

#: DSIR hashed-feature dimensionality and target domain
_DSIR_B = 1024
_DSIR_TARGET = "src0"
#: PSI instability threshold in ppm (0.1 nats)
_PSI_PPM = 100_000


def _nano_ln(c) -> F.Column:
    return F.round(F.log(c.cast("double")) * 1_000_000_000, 0).cast("long")


_DSIR_ORACLE = rf"""
    WITH w AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    bg AS (
        SELECT doc_id, source, ws[i] || ' ' || ws[i + 1] AS g
        FROM w, UNNEST(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i)
    ),
    bk AS (
        SELECT doc_id, source,
               CAST({_sql_hex4_to_int("g")} % {_DSIR_B} AS BIGINT) AS b
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


_PSI_ORACLE = f"""
    WITH r AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(length(CAST(CAST(ROUND(value * 100, 0) AS BIGINT)
                                AS VARCHAR)) AS BIGINT) AS bucket
        FROM events
    ),
    half AS (
        SELECT event_type, bucket,
               CASE WHEN day < (SELECT MIN(day) FROM r) + 15
                    THEN 0 ELSE 1 END AS h
        FROM r
    ),
    cnt AS (
        SELECT event_type, bucket, h, CAST(COUNT(*) AS BIGINT) AS c
        FROM half GROUP BY event_type, bucket, h
    ),
    grid AS (
        SELECT et.event_type, b.bucket, h.h
        FROM (SELECT DISTINCT event_type FROM r) et
        CROSS JOIN (SELECT DISTINCT bucket FROM r) b
        CROSS JOIN (SELECT 0 AS h UNION ALL SELECT 1) h
    ),
    sm AS (
        SELECT g.event_type, g.bucket, g.h,
               COALESCE(c.c, 0) + 1 AS a
        FROM grid g LEFT JOIN cnt c
          ON c.event_type = g.event_type AND c.bucket = g.bucket
         AND c.h = g.h
    ),
    norm AS (
        SELECT event_type, bucket, h, a,
               CAST(SUM(a) OVER (PARTITION BY event_type, h) AS BIGINT)
                 AS tot
        FROM sm
    ),
    ppm AS (
        SELECT event_type, bucket, h,
               GREATEST((1000000 * a) // tot, 1) AS p
        FROM norm
    ),
    pair AS (
        SELECT p0.event_type, p0.bucket, p0.p AS p, p1.p AS q
        FROM ppm p0 JOIN ppm p1
          ON p1.event_type = p0.event_type AND p1.bucket = p0.bucket
         AND p0.h = 0 AND p1.h = 1
    ),
    terms AS (
        SELECT event_type,
               (p - q) * (CAST(ROUND(ln(p) * 1e9, 0) AS BIGINT)
                          - CAST(ROUND(ln(q) * 1e9, 0) AS BIGINT)) AS t
        FROM pair
    )
    SELECT event_type,
           CAST(CAST(SUM(t) AS BIGINT) // 1000000000 AS BIGINT) AS psi_ppm,
           CAST(SUM(t) AS BIGINT) // 1000000000 >= {_PSI_PPM} AS unstable
    FROM terms GROUP BY event_type ORDER BY event_type
"""


@register("psi_value_drift", oracle=_PSI_ORACLE)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each event type's value-magnitude
    distribution (decimal digit count of exact integer cents), first
    half of the 30-day window vs second half. See module docstring."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    # ONE events scan + ONE partial-aggregated shuffle: everything
    # downstream (the half split, the smoothing grid's distinct event
    # types / buckets, min(day)) derives from the tiny (type, day,
    # bucket) count relation instead of re-scanning events per leg
    # (round-13 opt: the 4-scan form compiled to 21 scans / 78
    # exchanges and 18 jobs; this one is 1 scan of events). The
    # relation is O(types x days x digit-buckets) — calendar-sized,
    # safe to reference repeatedly at any corpus scale.
    base = store.keep(
        e.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.length(cents.cast("string")).cast("long").alias("bucket"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("bc"))
    )
    min_day = base.agg(F.min("day").alias("d0"))
    half = base.crossJoin(F.broadcast(min_day)).select(
        "event_type",
        "bucket",
        F.when(F.col("day") < F.date_add(F.col("d0"), 15), F.lit(0))
        .otherwise(F.lit(1))
        .alias("h"),
        "bc",
    )
    cnt = half.groupBy("event_type", "bucket", "h").agg(
        F.sum("bc").cast("long").alias("c")
    )
    ets = base.select("event_type").distinct()
    bks = base.select("bucket").distinct()
    hs = spark.range(2).select(F.col("id").cast("int").alias("h"))
    grid = ets.crossJoin(F.broadcast(bks)).crossJoin(F.broadcast(hs))
    sm = grid.join(cnt, ["event_type", "bucket", "h"], "left").select(
        "event_type",
        "bucket",
        "h",
        (F.coalesce("c", F.lit(0)) + 1).cast("long").alias("a"),
    )
    norm = sm.select(
        "event_type",
        "bucket",
        "h",
        "a",
        F.sum("a")
        .over(Window.partitionBy("event_type", "h"))
        .cast("long")
        .alias("tot"),
    )
    ppm = norm.select(
        "event_type",
        "bucket",
        "h",
        F.greatest(F.expr("(1000000 * a) div tot"), F.lit(1)).alias("p"),
    )
    p0 = ppm.filter(F.col("h") == 0).select(
        "event_type", "bucket", F.col("p").alias("p")
    )
    p1 = ppm.filter(F.col("h") == 1).select(
        "event_type", "bucket", F.col("p").alias("q")
    )
    terms = p0.join(p1, ["event_type", "bucket"]).select(
        "event_type",
        (
            (F.col("p") - F.col("q"))
            * (_nano_ln(F.col("p")) - _nano_ln(F.col("q")))
        ).alias("t"),
    )
    return (
        terms.groupBy("event_type")
        .agg(F.expr("cast(sum(t) as bigint) div 1000000000").alias("psi_ppm"))
        .select(
            "event_type",
            F.col("psi_ppm").cast("long").alias("psi_ppm"),
            (F.col("psi_ppm") >= _PSI_PPM).alias("unstable"),
        )
        .orderBy("event_type")
    )


_SEMDECON_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    te AS (SELECT * FROM v
           WHERE {_sql_hex4_to_int("vec_id")} % 100 < 10
             AND list_dot_product(e, e) > 0),
    tr AS (SELECT * FROM v
           WHERE {_sql_hex4_to_int("vec_id")} % 100 >= 15
             AND list_dot_product(e, e) > 0),
    scored AS (
        SELECT te.vec_id AS test_id, tr.vec_id AS train_id,
               list_dot_product(te.e, tr.e)
               / (sqrt(list_dot_product(te.e, te.e))
                  * sqrt(list_dot_product(tr.e, tr.e))) AS sim
        FROM te JOIN tr ON te.label = tr.label
    ),
    best AS (
        SELECT test_id, train_id, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY test_id ORDER BY sim DESC, train_id
               ) AS rn
        FROM scored
    )
    SELECT test_id, train_id, ROUND(sim, 6) AS cos_sim,
           sim >= 0.35 AS contaminated
    FROM best WHERE rn = 1 ORDER BY test_id
"""


#: chunk edge for the per-label argmax fold: the dense score matrix a
#: block ever materializes is <= _SEMDECON_CHUNK^2 float64 (~33 MB at
#: 2048), regardless of how hot the label is. Tests shrink it to force
#: many-chunk folds on small fixtures.
_SEMDECON_CHUNK = 2048


@register("decontaminate_semantic_topmatch", oracle=_SEMDECON_ORACLE)
def decontaminate_semantic_topmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-space sibling of the
    n-gram decontamination family: for every held-out (test) vector,
    the single nearest training vector by cosine within its label
    block, flagged `contaminated` at >= 0.35 (calibrated to this
    near-orthogonal synthetic corpus; production uses ~0.9+). An n-gram
    decontaminator misses paraphrases; this is the standard
    benchmark-leakage screen for them.

    Scale shape: the blocked form of `dedup_embedding_cosine` — the
    quadratic runs INSIDE each label block only, vectors cross the
    Arrow boundary once per block, and the argmax folds over fixed
    `_SEMDECON_CHUNK`-row test x train tiles (round-8 hardening: the
    round-7 form materialized one dense |test| x |train| matrix per
    label, the exact uncapped shape whose SemDedup sibling died at
    sf100 — a 10M-vector hot label would OOM an executor; the tile
    fold bounds peak memory at ~33 MB per block regardless of label
    heat). The fold is output-identical to the unchunked argmax: tiles
    advance in ascending train-id order, each tile's argmax takes the
    first occurrence, and the running best replaces only on strictly
    greater sim — together exactly ORDER BY sim DESC, train_id. numpy
    accumulates each pair's dot product ascending by dimension — the
    exact IEEE sequence of DuckDB's list_dot_product — so sims, the
    >= threshold decision, and the argmax are bitwise oracle-equal.
    Zero-norm embeddings are excluded on BOTH sides (sum-of-squares
    > 0, same ascending fold): a zero vector has no cosine, and the
    NaN it would produce sorts differently in Spark (NaN fails >=)
    vs DuckDB (NaN greater than everything) — the parity contract
    must not ride on engine NaN semantics."""
    import numpy as np
    import pandas as pd

    from ..operators.sampling import hash_bucket

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
        hash_bucket(F.col("vec_id")).alias("_b"),
    )
    # bound driver-side so the closure ships the value to workers (a
    # module-global lookup would re-resolve on the worker's import)
    C = _SEMDECON_CHUNK
    sq = F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x)
    marked = (
        emb.filter((F.col("_b") < 10) | (F.col("_b") >= 15))
        .filter(sq > 0)
        .select("vec_id", "label", "e", (F.col("_b") < 10).alias("is_test"))
    )

    def block_best(pdf: pd.DataFrame) -> pd.DataFrame:
        te = pdf[pdf["is_test"]].sort_values("vec_id")
        tr = pdf[~pdf["is_test"]].sort_values("vec_id")
        if te.empty or tr.empty:
            return pd.DataFrame(
                {
                    "test_id": pd.Series(dtype="int64"),
                    "train_id": pd.Series(dtype="int64"),
                    "raw": pd.Series(dtype="float64"),
                }
            )
        Xt = np.stack(te["e"].to_numpy()).astype(np.float64)
        Xr = np.stack(tr["e"].to_numpy()).astype(np.float64)
        dim = Xt.shape[1]
        st = np.zeros(len(te), dtype=np.float64)
        sr = np.zeros(len(tr), dtype=np.float64)
        for d in range(dim):  # sequential fold order — parity-critical
            st += Xt[:, d] * Xt[:, d]
            sr += Xr[:, d] * Xr[:, d]
        tr_ids = tr["vec_id"].to_numpy()
        best_sim = np.empty(len(te), dtype=np.float64)
        best_id = np.empty(len(te), dtype=np.int64)
        for t0 in range(0, len(te), C):
            t1 = min(t0 + C, len(te))
            bs = np.full(t1 - t0, -np.inf)
            bi = np.zeros(t1 - t0, dtype=np.int64)
            for r0 in range(0, len(tr), C):
                r1 = min(r0 + C, len(tr))
                acc = np.zeros((t1 - t0, r1 - r0), dtype=np.float64)
                for d in range(dim):  # same per-pair IEEE fold as above
                    acc += np.outer(Xt[t0:t1, d], Xr[r0:r1, d])
                sim = acc / np.outer(np.sqrt(st[t0:t1]), np.sqrt(sr[r0:r1]))
                j = sim.argmax(axis=1)  # first max = smallest id in tile
                m = sim[np.arange(t1 - t0), j]
                upd = m > bs  # strict: ties keep the earlier (smaller) id
                bs[upd] = m[upd]
                bi[upd] = tr_ids[r0 + j[upd]]
            best_sim[t0:t1] = bs
            best_id[t0:t1] = bi
        return pd.DataFrame(
            {
                "test_id": te["vec_id"].to_numpy(),
                "train_id": best_id,
                "raw": best_sim,
            }
        )

    return (
        marked.groupBy("label")
        .applyInPandas(block_best, "test_id long, train_id long, raw double")
        .select(
            "test_id",
            "train_id",
            F.round("raw", 6).alias("cos_sim"),
            (F.col("raw") >= 0.35).alias("contaminated"),
        )
        .orderBy("test_id")
    )
