"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-conscious:

- **exact**: hash-groupBy on a content fingerprint — one shuffle, partial
  aggregation collapses each partition to its distinct fingerprints first.
- **MinHash + LSH**: shingle -> per-seed min-hash signature -> banded bucket
  keys -> candidate pairs via an equi-join on the band key -> exact-Jaccard
  verification. The equi-join on band keys is the scale trick: no O(n^2)
  cross join ever materializes; work is proportional to colliding pairs.
- **SimHash**: weighted-bit signature; equal/near signatures bucket together.
- **n-gram Jaccard**: exact set overlap within blocking groups (lang/source)
  — the verifier used standalone when a cheap blocking key exists.

Determinism: all hashing is md5-based (stable across engines and runs —
this is also what makes the DuckDB oracles in plans/llm_ops.py possible).
Lexicographic MIN over fixed-width md5 hex strings is equivalent to numeric
MIN over the corresponding 128-bit integers, so signatures never need a
hex->int conversion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..store import keep
# store.release under its older name, still called by perfbench's reset
from ..store import release as release_shingle_caches  # noqa: F401


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """One row per distinct content: fingerprint, kept (min) id, copy count.

    At 100 TB: group on md5(content) not content itself — fixed 32-byte keys
    shuffle ~10-100x less than document bodies.
    """
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Keep the min-id row per distinct content (deterministic keep-first)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.col(content_col))).orderBy(id_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------


def _words(text: Column) -> Column:
    # round 13: codegen tokenizer (array_remove(split(norm))) — the old
    # filter(split, w -> w != '') HOF ran through interpreted Catalyst
    # eval; see operators.text.words for the measured pathology.
    from .text import words as _words_cg

    return _words_cg(text)


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles, one row per (id, shingle).

    Row-per-shingle (vs array column) keeps downstream joins/aggregations
    JVM-native and lets Spark redistribute shingle skew across partitions.

    ``carry_cols``: extra columns of ``df`` to carry through the explode
    unchanged (e.g. a blocking key) — carrying a key through the narrow
    explode costs a few bytes per row, while attaching it afterwards
    costs a full shuffle join of the corpus-sized shingle relation
    against the documents table.

    Round-13 codegen rewrite (guide section 4.1): the n-gram windows
    were built with a ``transform(sequence, i -> concat_ws(element_at
    ...))`` lambda — a higher-order function Spark evaluates through
    INTERPRETED Catalyst eval, whose hot dispatch sites sporadically
    deoptimize mid-session and ran 10-25x slower on suite runs (see
    operators.text.words). The regexp_extract_all lookahead form in
    operators.text.ngram_array produces byte-identical shingles inside
    whole-stage codegen. (The old pre-materialized ``_ws`` projection
    barrier existed to stop CollapseProject re-running the split per
    element_at; the regex form references its input once, so no barrier
    is needed.)

    Earlier round-13 note, still binding: a spread_small (layout.py) of
    the input HERE was measured and REVERTED — it parallelized the build
    (2.6 -> 1.6 s for the standard pipeline) but the added
    REPARTITION_BY_NUM node under every shingle reference defeated
    subtree reuse across the minhash family's compiled trees
    (lsh_recall_contract plan: 159 -> 272 Exchange, 73 -> 145 scans) and
    roughly DOUBLED consumer warm times (planning cost, not execution).
    Spread only inputs whose consumers do not re-canonicalize the tree
    per run (isolated aggregates, or builders whose output is
    lineage-truncated before consumers see it).
    """
    from .text import ngram_array

    carry = list(carry_cols or [])
    sh = F.array_distinct(ngram_array(F.col(text_col), n))
    return df.select(
        F.col(id_col).alias("doc_id"), *carry, F.explode(sh).alias("shingle")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(shingle_df: DataFrame, num_hashes: int = 8) -> DataFrame:
    """(doc_id, seed, minhash): per-seed min of md5(shingle || '|' || seed).

    The ``num_hashes`` mins are computed as SIDE-BY-SIDE aggregate
    expressions in ONE groupBy over the shingle rows, then unpivoted with
    ``stack`` — NOT by exploding each shingle x num_hashes first. The
    explode formulation pushes |shingles| x seeds rows through the
    aggregate (2M at sf0.1); the wide form evaluates the same md5 calls
    in-row inside codegen and partial aggregation collapses each
    partition to one |docs| x seeds-column buffer before the shuffle —
    the shuffle carries 8x fewer, wider rows. The unpivot is a zero-cost
    projection after the aggregate."""
    aggs = [
        F.min(F.md5(F.concat_ws("|", "shingle", F.lit(str(s))))).alias(f"h{s}")
        for s in range(num_hashes)
    ]
    wide = shingle_df.groupBy("doc_id").agg(*aggs)
    stack_args = ", ".join(f"{s}, h{s}" for s in range(num_hashes))
    return wide.selectExpr(
        "doc_id", f"stack({num_hashes}, {stack_args}) AS (seed, minhash)"
    )


def lsh_band_keys(sig_df: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """(doc_id, band, band_key): md5 over the band's ordered minhashes."""
    return (
        sig_df.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("band").cast("string"),
                    F.concat_ws("|", F.sort_array(F.collect_list("minhash"))),
                )
            ).alias("band_key")
        )
    )


def lsh_candidate_pairs(band_df: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band bucket — an equi-join
    on band_key, never a cross join.

    ``max_bucket_size`` drops buckets larger than the cap before pairing —
    the standard LSH skew control: a bucket of n docs contributes O(n^2)
    pairs, and mega-buckets (boilerplate, degenerate vocabularies) are
    exactly the content whose pairs exact-dedup or blocking handles more
    cheaply. Without the cap, AQE skew-join splitting still balances the
    join, but the quadratic pair count itself remains.
    """
    if max_bucket_size is not None:
        ok = (
            band_df.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .select("band_key")
        )
        band_df = band_df.join(ok, "band_key", "left_semi")
    a = band_df.select(F.col("doc_id").alias("id_a"), "band_key")
    b = band_df.select(F.col("doc_id").alias("id_b"), "band_key")
    return (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame,
    shingle_df: DataFrame,
    sizes: DataFrame | None = None,
    candidate_ids: DataFrame | None = None,
    prune_unique: bool = False,
) -> DataFrame:
    """Exact Jaccard for candidate pairs via two shingle equi-joins (set
    sizes from one aggregate; intersection counts from a join on shingle).

    ``sizes``: optional pre-computed (doc_id, n) shingle counts — pass it
    when the caller already aggregated per-doc (e.g. alongside the minhash
    signatures) to save one full scan of the shingle relation.

    Measured note (sf0.1, 9.5M pairs): this explode-join shape beats the
    "attach collect_set arrays to each pair + array_intersect" formulation
    ~2.5x — per-pair array intersection is evaluated per output expression
    (no cross-expression CSE) at ~4us a call, while the equi-join's
    intermediate rows are cheap primitive tuples with partial aggregation
    collapsing them before the shuffle.
    """
    if sizes is None:
        sizes = shingle_df.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # join on the 8-byte xxhash64 of the shingle, not the string: the
    # pairs-x-shingles intermediate carries ~n_shingles rows PER PAIR, so
    # its shuffle bytes are the verify cost — hashing cuts them ~2x (the
    # 10x probe measured this intermediate crossing the spill boundary).
    # Distinctness is preserved (collision odds ~|shingles|^2 / 2^64,
    # ~1e-11 at 10x sf0.1, and a collision would only nudge one pair's
    # n_inter); the projection sits ABOVE the cached string relation, so
    # every consumer still shares the one persisted tokenization.
    hashed = shingle_df.select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    # Semi-join reduction (round-8 sf100 finding): the two verify joins
    # hash-partition their shingle side, i.e. shuffle the CORPUS-sized
    # relation to serve |pairs| candidates. Docs that appear in no
    # candidate pair cannot contribute an intersection row, so pruning
    # the shingle relation to a SUPERSET of the candidate-id set first
    # is a semantic no-op — and it is a broadcast-hash semi-join
    # (map-side, no shuffle of the corpus side). At sf100 the unpruned
    # form spilled >70 GB of shuffle and died on the single-box disk
    # ceiling; pruned, only the candidate slice shuffles.
    #
    # The id set comes from the CALLER (``candidate_ids``), not from
    # ``pairs``: deriving it here (union of pair sides) evaluates the
    # pairs subplan twice, which an A/B measured as a 2-4x isolated-warm
    # regression for consumers whose pair derivation is itself a join
    # chain (PageRank 3.3 -> 14.2 s at sf0.1). LSH callers pass the
    # bucket-membership set (one cheap aggregate over the persisted
    # signature relation); dense-candidate callers (SNM windows, blocked
    # Jaccard — every doc is a candidate, pruning is a paid no-op) pass
    # nothing and keep the direct joins.
    #
    # No forced broadcast on the candidate side: the set is O(docs in
    # any multi-member bucket) — unbounded at the 100 TB design point,
    # where a forced hint would bypass autoBroadcastJoinThreshold and
    # hit the 8 GB BroadcastExchange ceiling. The planner (plus AQE's
    # runtime join re-selection) broadcasts it whenever its MEASURED
    # size is small — every driver SF — and falls back to a shuffled
    # semi-join when it isn't, which still prunes the verify joins'
    # pairs-x-shingles intermediate, the cost that actually dies first.
    if candidate_ids is not None:
        hashed = hashed.join(
            candidate_ids.select("doc_id"), "doc_id", "left_semi"
        )
    # Unique-shingle prune (the repeated_spans ">= 2 occurrences" rule,
    # r9 parked item landed in r11): a shingle held by exactly ONE doc
    # in the (candidate-restricted) relation cannot match across any
    # pair, so dropping it before the joins is a semantic no-op — sizes
    # come from the UNPRUNED relation, so the union term is exact. What
    # it buys: the verify cost is the pairs-x-shingles intermediate
    # (every shingle of id_a per pair, most of which die at the second
    # join probe on a realistic vocabulary where most shingles are
    # document-unique); the prune removes them BEFORE that intermediate
    # exists. What it costs: one partial-aggregated count over the
    # candidate shingle slice + a semi-join — which is why it is opt-in:
    # the LSH path (candidate-restricted slice, cheap count) enables it,
    # dense-candidate callers on this generator's 31-word vocabulary
    # (where nearly every shingle repeats and the prune keeps ~all rows)
    # do not. Requires per-doc-distinct shingles (shingles() output).
    if prune_unique:
        shared = (
            hashed.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") >= 2)
            .select("shingle")
        )
        hashed = hashed.join(shared, "shingle", "left_semi")
    sa = hashed.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = hashed.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 1,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    cache_shingles: bool = True,
) -> DataFrame:
    """Full pipeline: shingle -> minhash -> LSH bucket -> verify >= threshold.

    The shingle relation is referenced by both the signature aggregate and
    the verification joins, so two scan-reduction measures apply:

    - per-doc shingle counts are folded into the SAME groupBy that computes
      the signature mins (one wide aggregate, ``stack``-unpivoted after),
      eliminating the separate sizes scan verify_jaccard would run;
    - with ``cache_shingles`` (default), the shingle rows (``big``) and
      the signatures are kept in the session store (``store.keep``; the
      storage-level and 100 TB rationale lives there), so every dedup
      query over the same table shares one tokenization. The verified
      pairs are NOT kept here: consumers that scan them several times
      keep or truncate the returned frame themselves.
    """
    sh = shingles(df, id_col, text_col, n=shingle_n)
    if cache_shingles:
        sh = keep(sh, big=True)
    wide = minhash_wide_signatures(sh, num_hashes=num_hashes)
    if cache_shingles:
        # the verify prune's candidate-id set re-reads the signature
        # relation (bands -> bucket counts -> semi-join); without this
        # persist that second read re-runs the whole wide aggregate
        # (A/B: PageRank isolated-warm 7.5 s -> ~4 s). O(docs x k x 32B),
        # the designated compact persist candidate — see
        # minhash_wide_signatures.
        wide = keep(wide)
    return verified_pairs_from_wide(
        wide,
        sh,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )


def minhash_wide_signatures(shingle_df: DataFrame, num_hashes: int = 8) -> DataFrame:
    """One wide aggregate per doc: the ``num_hashes`` minhash columns
    ``h0..h{k-1}`` PLUS the per-doc shingle count ``_n_sh`` — the single
    groupBy the whole MinHash pipeline hangs off. Consumers that need
    both the LSH pairs AND the raw signature columns (the estimate
    contract query) persist THIS frame and derive everything from it —
    O(docs x num_hashes x 32B), far below corpus size, so persisting it
    is safe at the 100 TB design point."""
    aggs = [
        F.min(F.md5(F.concat_ws("|", "shingle", F.lit(str(s))))).alias(f"h{s}")
        for s in range(num_hashes)
    ]
    return shingle_df.groupBy("doc_id").agg(
        *aggs, F.count(F.lit(1)).alias("_n_sh")
    )


def verified_pairs_from_wide(
    wide: DataFrame,
    shingle_df: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    prune_unique: bool = False,
) -> DataFrame:
    """LSH candidate pairs + exact-Jaccard verify, derived from an
    existing ``minhash_wide_signatures`` frame (pass a persisted one to
    compute the signature aggregate exactly once across multiple
    consumers)."""
    stack_args = ", ".join(f"{s}, h{s}" for s in range(num_hashes))
    sig = wide.selectExpr(
        "doc_id", f"stack({num_hashes}, {stack_args}) AS (seed, minhash)"
    )
    sizes = wide.select("doc_id", F.col("_n_sh").alias("n"))
    bands = lsh_band_keys(sig, rows_per_band=rows_per_band)
    pairs = lsh_candidate_pairs(bands, max_bucket_size=max_bucket_size)
    # candidate-id SUPERSET for the verify semi-join prune: docs sharing
    # any band bucket with a second doc. One aggregate + one semi-join
    # over relations derived from the (persisted) wide frame — no
    # re-evaluation of the pairs subplan (see verify_jaccard).
    multi = (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("_bc"))
        .filter(F.col("_bc") >= 2)
        .select("band", "band_key")
    )
    cand_ids = (
        bands.join(multi, ["band", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    # prune_unique is OFF by default: the r9 parked-item hypothesis (a
    # dense-verify win) does NOT survive measurement on top of the r8
    # candidate semi-join. Once the shingle side is restricted to
    # candidate docs, the remaining intermediate is small, and the
    # prune's counting aggregate is pure added cost in BOTH measured
    # regimes — this generator's 31-word vocabulary (dedup_minhash_lsh
    # warm 2.3 s -> 3.8-4.6 s at sf0.1) AND a 20k-doc / 20k-word Zipf
    # corpus (warm verify 8.2 s without vs 19.8 s with; identical 1667
    # pairs). Its residual win case is candidate sets with mega
    # duplicate clusters whose members still carry mostly-unshared
    # shingles; equivalence for that day is pinned by
    # tests/test_ops_extensions.py::test_verify_prune_unique_is_a_
    # semantic_noop on a Zipf fixture.
    return verify_jaccard(
        pairs, shingle_df, sizes=sizes, candidate_ids=cand_ids,
        prune_unique=prune_unique,
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: portable hex-nibble value: engines disagree on hex->int casts, but
#: "position in the hex alphabet" is pure string ops on both.
_HEX = "0123456789abcdef"


def _hex4_to_int(col: Column) -> Column:
    """First 4 hex chars of an md5 -> 16-bit int, via alphabet positions."""
    out = F.lit(0)
    for k in range(4):
        nib = F.instr(F.lit(_HEX), F.substring(col, k + 1, 1)) - 1
        out = out * 16 + nib
    return out


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per document over term frequencies.

    bit_i(doc) = sign( sum_tokens cnt * (2*bit_i(md5(token)) - 1) ); the
    signature packs the 16 signs. Two aggregations, both map-side-combining:
    (doc, token) counts, then (doc, bit) contributions.
    """
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_words(F.col(text_col))).alias("token"),
    )
    tf = tokens.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    hashed = tf.select(
        "doc_id", "cnt", _hex4_to_int(F.md5("token")).alias("hv")
    )
    bits = hashed.select(
        "doc_id",
        "cnt",
        "hv",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit"),
    ).select(
        "doc_id",
        "bit",
        # shift amount is a column -> SQL expression (the pyspark wrapper
        # only takes literal shift counts)
        F.expr("cnt * (2 * (shiftright(hv, bit) & 1) - 1)").alias("contrib"),
    )
    bit_signs = bits.groupBy("doc_id", "bit").agg(F.sum("contrib").alias("s"))
    return bit_signs.groupBy("doc_id").agg(
        F.sum(F.expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), bit) ELSE 0 END")).alias(
            "simhash"
        )
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    band_bits: int = 8,
    max_hamming: int = 3,
    max_bucket_size: int | None = 100,
) -> DataFrame:
    """SimHash near-dup PAIRS: banded signature buckets -> candidate
    equi-join -> exact Hamming verify (completes the SimHash path the way
    lsh_candidate_pairs + verify_jaccard complete MinHash).

    Banding is the pigeonhole guarantee: splitting 16 bits into
    ``16/band_bits`` bands catches every pair with Hamming distance
    < 16/band_bits exactly (some band must be untouched); wider bands =
    fewer, more selective buckets. ``max_bucket_size`` is the same skew
    control as capped MinHash-LSH — a degenerate-vocabulary corpus piles
    near-identical signatures into one bucket whose O(n^2) pairs exact
    dedup should have removed first. The verify is one JVM expression
    (bit_count(xor)) per candidate — no arrays, no Python.
    """
    n_bands = 16 // band_bits
    mask = (1 << band_bits) - 1
    sig = simhash16(df, id_col, text_col)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", band_bits * b).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "nib"),
    )
    if max_bucket_size is not None:
        ok = (
            bands.groupBy("band", "nib")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .select("band", "nib")
        )
        bands = bands.join(ok, ["band", "nib"], "left_semi")
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "nib"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "nib"
    )
    return (
        a.join(b, ["band", "nib"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# blocked exact n-gram Jaccard
# ---------------------------------------------------------------------------


def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_n: int = 2,
    threshold: float = 0.1,
    max_block_size: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard inside blocking groups. The actual
    intersection is computed by shingle equi-join, not nested loops.

    Blocking bounds the pair count only while blocks stay small: at 100x
    scale a dominant block (e.g. lang=en, source=web) grows linearly with
    the corpus, so its within-block pair relation grows QUADRATICALLY
    before the verify join ever sees it. ``max_block_size`` caps that:
    every block is deterministically hash-split into ceil(n/cap) salted
    sub-blocks (the repo-standard md5-hex4 bucket of doc_id, so any SQL
    engine reproduces the split), and pairs are generated within a
    sub-block only. Blocks at or under the cap get ONE sub-block —
    identical to uncapped — so the cap only changes behavior where the
    quadratic would bite. Total pair count is bounded by ~N*cap/2
    (LINEAR in corpus size at fixed cap), at a known, deterministic
    recall cost: a pair whose members hash to different sub-blocks is
    missed — at 100 TB, candidates in mega-blocks belong to the banded
    paths (LSH / PPJoin) anyway; this keeps the exact path useful and
    bounded instead of useless. ``None`` keeps uncapped behavior for
    small-cardinality blocking schemes. Empirical: the sf0.1 -> sf1
    (10x) probe measured 0 super-linear growth with cap=100 (BASELINE.md
    round-6 table).

    Execution shape (capped + positive threshold): the intersection is
    computed by GROUPING the sub-block-keyed shingle relation on
    (block, sub, shingle) and emitting each group's doc-id pairs — one
    wide shuffle of the carried shingle relation, with per-group pair
    fan-out bounded by the sub-block cap. The alternative
    pairs-join-shingles form (verify_jaccard) materializes
    |pairs| x ~shingles/doc intermediate rows, almost all of which are
    non-matches (pair rows where the other side lacks the shingle): at
    the sf100 probe that intermediate's shuffle exceeded the single
    box's ~73 GB spill ceiling (ENOSPC, round 9), while the grouped form
    shuffles each shingle row once and materializes only ACTUAL
    co-occurrences. Zero-intersection pairs never appear, which is
    exactly the >= threshold output for any threshold > 0; threshold <= 0
    (or uncapped blocks, where a mega-group's pair fan-out would land on
    one task) keeps the pairs-join form."""
    if max_block_size is not None and threshold > 0:
        return _sub_blocked_jaccard_grouped(
            df, id_col, text_col, block_cols, shingle_n, threshold,
            max_block_size,
        )
    base = df.select(F.col(id_col).alias("doc_id"), *block_cols)
    if max_block_size is not None:
        # internal column names must not shadow a caller's block column
        # (the ingest-dedup '_rn' probing pattern)
        bn = "_bn"
        while bn in base.columns:
            bn = "_" + bn
        sub = "_sub"
        while sub in base.columns or sub == bn:
            sub = "_" + sub
        counts = (
            base.groupBy(*block_cols)
            .agg(F.count(F.lit(1)).alias(bn))
        )
        # integer ceil-div (float division + cast could round at scale)
        n_sub = F.expr(
            f"(`{bn}` + {int(max_block_size) - 1}) div {int(max_block_size)}"
        )
        hex4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        salt = F.conv(hex4, 16, 10).cast("long") % n_sub
        # re-select: a USING join moves the key columns first, which would
        # silently break the positional toDF renames below. counts is
        # block-cardinality-sized -> broadcast side of this join.
        base = (
            base.join(F.broadcast(counts), block_cols)
            .select("doc_id", *block_cols, salt.alias(sub))
        )
        block_cols = [*block_cols, sub]
    sh = shingles(df, id_col, text_col, n=shingle_n)
    a = base.toDF("id_a", *block_cols)
    b = base.toDF("id_b", *block_cols)
    pairs = a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    return verify_jaccard(pairs, sh).filter(F.col("jaccard") >= threshold)


def _sub_blocked_jaccard_grouped(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_n: int,
    threshold: float,
    max_block_size: int,
) -> DataFrame:
    """Grouped-intersection form of capped blocked Jaccard (see
    blocked_jaccard_pairs): shingle rows carry their (block, sub-block)
    key through the explode, one groupBy on (block, sub, shingle) emits
    each group's doc-id pairs, and a pair count IS the exact
    intersection size. Per-group pair fan-out is bounded by the
    sub-block cap (<= ~cap ids per group), so no task ever holds a
    quadratic blob; total shuffle is the carried shingle relation once —
    linear in corpus size — plus the actual co-occurrence rows."""
    # internal names must not shadow a caller's block column (the
    # ingest-dedup '_rn' probing pattern)
    taken = set(df.columns)

    def _fresh(name: str) -> str:
        while name in taken:
            name = "_" + name
        taken.add(name)
        return name

    bn, sub, ids, p = _fresh("_bn"), _fresh("_sub"), _fresh("_ids"), _fresh("_p")
    counts = df.groupBy(*block_cols).agg(F.count(F.lit(1)).alias(bn))
    n_sub = F.expr(
        f"(`{bn}` + {int(max_block_size) - 1}) div {int(max_block_size)}"
    )
    hex4 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    salt = F.conv(hex4, 16, 10).cast("long") % n_sub
    # counts is block-cardinality-sized -> broadcast side; the salt is
    # computable in the same projection, so the blocking key rides the
    # narrow explode instead of a corpus-sized join afterwards
    keyed = df.join(F.broadcast(counts), block_cols).select(
        F.col(id_col), F.col(text_col), *block_cols, salt.alias(sub)
    )
    sh = shingles(
        keyed, id_col, text_col, n=shingle_n, carry_cols=[*block_cols, sub]
    )
    # 8-byte shingle hashes (the verify_jaccard trick): distinctness per
    # doc is preserved at row grain, collisions only nudge one n_inter
    # with odds ~|shingles|^2 / 2^64. Persisted: sizes and the group
    # aggregate both scan it; MEMORY_ONLY because recompute beats
    # disk-round-tripping the exploded form (store.keep big=True).
    hashed = keep(
        sh.select(
            "doc_id", *block_cols, sub, F.xxhash64("shingle").alias("shingle")
        ),
        big=True,
    )
    sizes = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    grp = (
        hashed.groupBy(*block_cols, sub, "shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias(ids))
        .filter(F.size(ids) >= 2)
    )
    # ascending ids -> (ids[i], ids[j]) with i < j already satisfies
    # id_a < id_b; slice is 1-based, length 0 at the last element
    combos = F.expr(
        f"flatten(transform({ids}, (x, i) -> "
        f"transform(slice({ids}, i + 2, size({ids}) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    inter = (
        grp.select(F.explode(combos).alias(p))
        .select(F.col(f"{p}.id_a").alias("id_a"), F.col(f"{p}.id_b").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# maximal repeated spans (exact substring dedup at the word grain)
# ---------------------------------------------------------------------------


def positioned_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Word n-grams WITH their 1-based token position: (doc_id, pos,
    shingle), one row per occurrence. The distinct-set form
    (:func:`shingles`) deliberately loses adjacency; span coalescing
    needs it back — two grams only merge into one span if their
    positions are consecutive in BOTH documents. Same tokenization
    (lowercase, whitespace split) and the same codegen n-gram capture as
    shingles() (round 13; regex matches iterate left-to-right, so the
    array index under posexplode IS the 1-based token position minus
    one, exactly as with the old transform-over-sequence lambda)."""
    from .text import ngram_array

    grams = ngram_array(F.col(text_col), n)
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(grams).alias("_p", "shingle")
    ).select("doc_id", (F.col("_p") + 1).cast("long").alias("pos"), "shingle")


def repeated_spans(
    grams: DataFrame,
    n: int = 8,
    min_tokens: int = 12,
    max_gram_occ: int = 20,
) -> DataFrame:
    """Maximal cross-document repeated token spans — exact substring
    dedup at the word grain (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL'22; their suffix-array 50-token
    spans, re-expressed relationally): coalesce runs of position-aligned
    shared n-grams into maximal spans per (doc pair, alignment
    diagonal). A repeated substring of L >= n tokens appears as exactly
    L - n + 1 consecutive matching n-grams on one diagonal, so
    ``token_len = run + n - 1`` recovers the true span length.

    ``grams``: :func:`positioned_shingles` output. Scale shape:
    - the self-join key is xxhash64(gram) — 8-byte keys shuffle ~7x
      less than 8-word strings (64-bit collisions cannot FABRICATE a
      span: a false span would need min_tokens-n+1 consecutive
      colliding alignments; the one real risk is a collision inflating
      a gram's occurrence count past the cap, vanishing at ~n_grams^2 /
      2^65 and caught by the cross-engine oracle, which joins raw gram
      strings — swap in a 128-bit hash if a corpus ever trips it);
    - only grams seen 2..``max_gram_occ`` times corpus-wide enter the
      self-join: occurrence 1 cannot match across documents (the vast
      majority of grams — measured ~90%+ — never leave the count
      aggregate), and the upper cap is the stop-gram guard bounding
      every gram's fan-out by max_gram_occ^2 regardless of corpus size,
      the same discipline as ngram_exact_overlap's df cap. Boilerplate
      (license headers, nav text) is exactly what the cap drops;
    - islands need ONE window over the matched rows (pos_a -
      row_number() is constant per consecutive run within a diagonal —
      positions are unique there, since (doc, pos) identifies an
      occurrence), never a positions self-join.
    Returns (id_a, id_b, start_a, start_b, token_len), id_a < id_b.
    """
    from pyspark.sql.window import Window

    g = grams.select("doc_id", "pos", F.xxhash64("shingle").alias("h"))
    kept = (
        g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter((F.col("_occ") >= 2) & (F.col("_occ") <= max_gram_occ))
        .select("h")
    )
    # both self-join sides scan this relation; without the persist each
    # side re-runs tokenize + explode + the repeated-gram semi-join
    # (.explain showed the whole subtree twice). Post-filter it holds
    # only REPEATED grams — a small fraction of the corpus — so
    # MEMORY_AND_DISK (cheap to keep, expensive to recompute: the
    # recompute is the full tokenize + count pass).
    g = keep(g.join(kept, "h", "left_semi"))
    a = g.select(F.col("doc_id").alias("id_a"), F.col("pos").alias("pa"), "h")
    b = g.select(F.col("doc_id").alias("id_b"), F.col("pos").alias("pb"), "h")
    m = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    isl = m.withColumn("_isl", F.col("pa") - F.row_number().over(w))
    return (
        isl.groupBy("id_a", "id_b", "diag", "_isl")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(n - 1)).cast("long").alias("token_len"),
        )
        .filter(F.col("token_len") >= min_tokens)
        .select("id_a", "id_b", "start_a", "start_b", "token_len")
    )


def cross_repeated_spans(
    probe_grams: DataFrame,
    corpus_grams: DataFrame,
    n: int = 8,
    min_tokens: int = 12,
    max_corpus_occ: int = 20,
) -> DataFrame:
    """Cross-set maximal repeated spans — :func:`repeated_spans` between
    two DISJOINT relations instead of a self-join: for every (probe doc,
    corpus doc) pair, the maximal verbatim token spans they share. The
    contamination-provenance primitive: where whole-doc overlap counts
    (ngram_exact_overlap) say THAT a test doc leaks, this says WHERE and
    for HOW LONG, which is what an exclusion report cites.

    Scale shape differs from the self-join case in one way: the >= 2
    occurrence floor does NOT apply (a gram once in probe + once in
    corpus is a legitimate match), so only the corpus-side stop-gram cap
    bounds fan-out (probe-side grams are the small set by construction —
    a test split, an eval suite). Islands are the same single window per
    (pair, diagonal)."""
    from pyspark.sql.window import Window

    pg = probe_grams.select(
        F.col("doc_id").alias("probe_id"),
        F.col("pos").alias("pa"),
        F.xxhash64("shingle").alias("h"),
    )
    cg = corpus_grams.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("pos").alias("pb"),
        F.xxhash64("shingle").alias("h"),
    )
    kept = (
        cg.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") <= max_corpus_occ)
        .select("h")
    )
    cg = cg.join(kept, "h", "left_semi")
    m = pg.join(cg, "h").select(
        "probe_id", "corpus_id", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
    )
    w = Window.partitionBy("probe_id", "corpus_id", "diag").orderBy("pa")
    isl = m.withColumn("_isl", F.col("pa") - F.row_number().over(w))
    return (
        isl.groupBy("probe_id", "corpus_id", "diag", "_isl")
        .agg(
            F.min("pa").alias("start_probe"),
            F.min("pb").alias("start_corpus"),
            (F.count(F.lit(1)) + F.lit(n - 1)).cast("long").alias("token_len"),
        )
        .filter(F.col("token_len") >= min_tokens)
        .select("probe_id", "corpus_id", "start_probe", "start_corpus", "token_len")
    )


# ---------------------------------------------------------------------------
# exact n-gram contamination overlap
# ---------------------------------------------------------------------------


def ngram_exact_overlap(
    probe_grams: DataFrame,
    corpus_grams: DataFrame,
    min_shared: int = 2,
    max_gram_df: int | None = 50,
) -> DataFrame:
    """Exact n-gram overlap pairs (GPT-3-style decontamination): for every
    probe document, find corpus documents sharing >= ``min_shared`` exact
    word n-grams. Inputs are ``shingles()``-shaped (doc_id, shingle),
    distinct per doc, so the equi-join emits one row per shared gram and a
    plain count is the distinct intersection size.

    ``max_gram_df`` drops grams appearing in more than that many corpus
    docs before the join — the standard stop-gram guard: at 100 TB a
    boilerplate gram (license headers, nav text) would otherwise fan out
    |probe| x |corpus| rows; dropping high-DF grams bounds each gram's
    join output. Skew-safe by construction.
    """
    tr = corpus_grams.select(F.col("doc_id").alias("corpus_id"), "shingle")
    if max_gram_df is not None:
        kept = (
            tr.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_gram_df)
            .select("shingle")
        )
        tr = tr.join(kept, "shingle", "left_semi")
    pr = probe_grams.select(F.col("doc_id").alias("probe_id"), "shingle")
    return (
        pr.join(tr, "shingle")
        .groupBy("probe_id", "corpus_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )
