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
this is also what makes the DuckDB oracles in plans/dedup_graph.py possible).
Lexicographic MIN over fixed-width md5 hex strings is equivalent to numeric
MIN over the corresponding 128-bit integers, so signatures never need a
hex->int conversion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..store import keep
from .sampling import hex_int, sub_block
from .text import ngram_array, words
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


def fresh_name(name: str, taken) -> str:
    """``name``, underscore-prefixed until it is not in ``taken`` (a
    frame's columns): an internal column never shadows a caller's."""
    while name in taken:
        name = "_" + name
    return name


def _first_per(df: DataFrame, partition, order: list[Column]) -> DataFrame:
    """The first row of each ``partition`` group by ``order``."""
    from pyspark.sql.window import Window

    rn = fresh_name("_rn", df.columns)
    w = Window.partitionBy(*partition).orderBy(*order)
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) == 1).drop(rn)


def drop_exact_duplicates(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Keep the min-id row per distinct content (deterministic keep-first)."""
    return _first_per(df, [F.md5(F.col(content_col))], [F.col(id_col)])


def _orderable(dt) -> bool:
    # MapType cannot be sorted; arrays/structs are orderable iff their
    # element/field types are
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def one_per_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """One row per ``keys`` value, and the SAME row on every partitioning
    and input order: the least by the orderable payload columns
    (ascending, NULLs first). ``dropDuplicates`` keeps whichever row a
    partition meets first, so a replayed micro-batch could land a
    different payload than its first attempt did.

    Rows can tie on every orderable column while differing in a
    non-orderable one (a map). The last tiebreak is the xxhash64 of the
    JSON of those columns: a replay re-serializes each row identically,
    so the hash-least row is stable. (Two equal maps built in different
    key orders hash differently; that changes which duplicate wins,
    never whether the choice is stable.) A keys-only frame has no
    payload to choose by, so any row is the row."""
    payload = [f for f in df.schema.fields if f.name not in keys]
    order = [F.col(f.name).asc_nulls_first() for f in payload if _orderable(f.dataType)]
    maps = sorted(f.name for f in payload if not _orderable(f.dataType))
    if maps:
        order.append(F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in maps]))).asc())
    if not order:
        return df.dropDuplicates(keys)
    return _first_per(df, keys, order)


# ---------------------------------------------------------------------------
# shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 1) -> DataFrame:
    """Each document's distinct word ``n``-gram set as one array: (doc_id,
    shingles). The one tokenization of the shingle family — :func:`shingles`
    explodes this same expression, and :func:`verify_jaccard` intersects
    it. NULL text gives a NULL set at n=1 and an empty one above."""
    return df.select(
        F.col(id_col).alias("doc_id"), _shingle_set(text_col, n).alias("shingles")
    )


def _shingle_set(text_col: str, n: int) -> Column:
    return F.array_distinct(ngram_array(F.col(text_col), n))


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles, one row per (id, shingle): the
    :func:`shingle_sets` array, exploded.

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
    carry = list(carry_cols or [])
    return df.select(
        F.col(id_col).alias("doc_id"),
        *carry,
        F.explode(_shingle_set(text_col, n)).alias("shingle"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: The one MinHash-LSH geometry, read by every operator below and by the
#: DuckDB oracles (plans/oracle_sql.py): 8 per-seed minhashes, 4 bands of
#: 2 rows, pairs kept at exact Jaccard >= 0.5.
NUM_HASHES = 8
ROWS_PER_BAND = 2
JACCARD_FLOOR = 0.5


def minhash_wide_signatures(shingle_df: DataFrame) -> DataFrame:
    """One wide aggregate per doc: the ``NUM_HASHES`` minhash columns
    ``h0..h7`` (per-seed min of md5(shingle || '|' || seed)) — the single
    groupBy the whole MinHash pipeline hangs off.

    The mins are SIDE-BY-SIDE aggregate expressions in ONE groupBy over
    the shingle rows, NOT an explode of each shingle x seed first:
    the explode form pushes |shingles| x seeds rows through the aggregate
    (2M at sf0.1), while the wide form evaluates the same md5 calls in-row
    inside codegen and partial aggregation collapses each partition to one
    |docs| x seeds-column buffer before the shuffle. Consumers that need
    both the LSH pairs AND the raw signature columns (the estimate
    contract query) persist THIS frame and derive everything from it —
    O(docs x NUM_HASHES x 32B), far below corpus size, so persisting it
    is safe at the 100 TB design point."""
    aggs = [
        F.min(F.md5(F.concat_ws("|", "shingle", F.lit(str(s))))).alias(f"h{s}")
        for s in range(NUM_HASHES)
    ]
    return shingle_df.groupBy("doc_id").agg(*aggs)


def lsh_band_keys(wide: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from a :func:`minhash_wide_signatures`
    frame: band b's key is md5 over ``b`` and its ``ROWS_PER_BAND``
    minhashes in sorted order. Each wide row already holds every band's
    hashes, so the keys are one row-local projection (a ``stack`` of
    per-band md5 expressions) — no regroup Exchange, no aggregate."""
    n = NUM_HASHES // ROWS_PER_BAND
    keys = ", ".join(
        f"{b}, md5(concat_ws('|', '{b}', sort_array(array("
        + ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + "))))"
        for b in range(n)
    )
    return wide.selectExpr("doc_id", f"stack({n}, {keys}) AS (band, band_key)")


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


def verify_jaccard(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """Exact Jaccard of each candidate (id_a, id_b) over the
    :func:`shingle_sets` arrays: both sides' sets join onto the pair and
    one ``array_intersect`` per pair gives the shared count.

    Pairs that share no shingle give no row (a zero Jaccard passes no
    threshold, and two empty sets have no defined Jaccard). Work is
    linear in |pairs| x shingles per document, and no per-shingle row is
    shuffled."""
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("s_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("s_b"))
    counts = F.struct(
        F.size("s_a").alias("n_a"),
        F.size("s_b").alias("n_b"),
        F.size(F.array_intersect("s_a", "s_b")).alias("n_inter"),
    )
    # the counts come out of a one-row inline, not a projection: a filter
    # over a projected alias is pushed below it with the expression
    # substituted (here into the join condition), which evaluated the
    # intersect twice per pair; a generator's output cannot be pushed past
    sized = pairs.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", F.inline(F.array(counts))
    )
    return sized.filter(F.col("n_inter") > 0).select(
        "id_a",
        "id_b",
        (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full pipeline: shingle -> minhash -> LSH bucket -> verify >=
    ``JACCARD_FLOOR``.

    The shingle rows (``big``) and the signatures are kept in the session
    store (``store.keep``; the storage-level and 100 TB rationale lives
    there), so every dedup query over the same table shares one
    tokenization and one signature aggregate. The verify's shingle sets
    are NOT kept: they are a narrow projection of ``df``, and a kept
    array relation read by both verify sides was rebuilt by concurrent
    first readers (the race ``store`` describes). The verified pairs are
    not kept here either: consumers that scan them several times keep or
    truncate the returned frame themselves.
    """
    sh = keep(shingles(df, id_col, text_col, n=shingle_n), big=True)
    wide = keep(minhash_wide_signatures(sh))
    sets = shingle_sets(df, id_col, text_col, n=shingle_n)
    return verified_pairs_from_wide(wide, sets, max_bucket_size=max_bucket_size)


def verified_pairs_from_wide(
    wide: DataFrame,
    sets: DataFrame,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs + exact-Jaccard verify (>= ``JACCARD_FLOOR``),
    derived from an existing ``minhash_wide_signatures`` frame (pass a
    persisted one to compute the signature aggregate exactly once across
    multiple consumers) and the same documents' :func:`shingle_sets`."""
    pairs = lsh_candidate_pairs(lsh_band_keys(wide), max_bucket_size=max_bucket_size)
    return verify_jaccard(pairs, sets).filter(F.col("jaccard") >= JACCARD_FLOOR)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per document over term frequencies.

    bit_i(doc) = sign( sum_tokens cnt * (2*bit_i(md5(token)) - 1) ); the
    signature packs the 16 signs. Two aggregations, both map-side-combining:
    (doc, token) counts, then (doc, bit) contributions.
    """
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(F.col(text_col))).alias("token"),
    )
    tf = tokens.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    hashed = tf.select(
        "doc_id", "cnt", hex_int(F.md5("token")).alias("hv")
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
    max_block_size: int,
    shingle_n: int = 2,
    threshold: float = 0.1,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= ``threshold`` inside blocking groups.

    Blocking bounds the pair count only while blocks stay small: at 100x
    scale a dominant block (e.g. lang=en, source=web) grows linearly with
    the corpus, so its within-block pair relation grows QUADRATICALLY.
    ``max_block_size`` caps that: every block is deterministically
    hash-split into ceil(n/cap) salted sub-blocks (the repo-standard
    md5-hex4 bucket of doc_id, so any SQL engine reproduces the split),
    and pairs are generated within a sub-block only. A block at or under
    the cap gets ONE sub-block, i.e. all its pairs; pass a cap at least
    the largest block's size for plain blocking. Total pair count is
    bounded by ~N*cap/2 (LINEAR in corpus size at fixed cap), at a known,
    deterministic recall cost: a pair whose members hash to different
    sub-blocks is missed — at 100 TB, candidates in mega-blocks belong
    to the banded paths (LSH / PPJoin) anyway. Empirical: the sf0.1 ->
    sf1 (10x) probe measured 0 super-linear growth with cap=100
    (BASELINE.md round-6 table).

    Execution: shingle rows carry their (block, sub-block) key through
    the explode, one groupBy on (block, sub, shingle) emits each group's
    doc-id pairs, and a pair's count IS its exact intersection size. Each
    shingle row shuffles once and only ACTUAL co-occurrences materialize,
    with per-group pair fan-out bounded by the cap; a per-pair verify
    (:func:`verify_jaccard`) instead attaches two shingle sets to every
    within-block pair, almost all non-matches (its earlier
    pairs-join-shingles form exceeded the single box's ~73 GB spill
    ceiling at the sf100 probe, ENOSPC, round 9). Zero-intersection
    pairs never appear, so ``threshold`` must be positive."""
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    # internal names must not shadow a caller's block column
    bn, sub, ids, p = (fresh_name(n, df.columns) for n in ("_bn", "_sub", "_ids", "_p"))
    counts = df.groupBy(*block_cols).agg(F.count(F.lit(1)).alias(bn))
    salt = sub_block(F.col(id_col), bn, int(max_block_size))
    # counts is block-cardinality-sized -> broadcast side; the salt is
    # computable in the same projection, so the blocking key rides the
    # narrow explode instead of a corpus-sized join afterwards
    keyed = df.join(F.broadcast(counts), block_cols).select(
        F.col(id_col), F.col(text_col), *block_cols, salt.alias(sub)
    )
    sh = shingles(
        keyed, id_col, text_col, n=shingle_n, carry_cols=[*block_cols, sub]
    )
    # 8-byte shingle hashes halve the shuffle bytes: distinctness per
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

#: The one exact-overlap and span geometry, read by the operators below,
#: the decontamination entries and the DuckDB oracles
#: (plans/oracle_sql.py): word ``GRAM_N``-grams; an overlap pair shares
#: >= ``MIN_SHARED`` grams, counting only grams in <= ``MAX_GRAM_DF``
#: corpus documents; a span is >= ``MIN_SPAN_TOKENS`` tokens, built from
#: grams seen <= ``MAX_GRAM_OCC`` times.
GRAM_N = 8
MIN_SHARED = 2
MAX_GRAM_DF = 50
MIN_SPAN_TOKENS = 12
MAX_GRAM_OCC = 20


def positioned_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Word ``GRAM_N``-grams WITH their 1-based token position: (doc_id, pos,
    shingle), one row per occurrence. The distinct-set form
    (:func:`shingles`) deliberately loses adjacency; span coalescing
    needs it back — two grams only merge into one span if their
    positions are consecutive in BOTH documents. Same tokenization
    (lowercase, whitespace split) and the same codegen n-gram capture as
    shingles() (round 13; regex matches iterate left-to-right, so the
    array index under posexplode IS the 1-based token position minus
    one, exactly as with the old transform-over-sequence lambda)."""
    grams = ngram_array(F.col(text_col), GRAM_N)
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(grams).alias("_p", "shingle")
    ).select("doc_id", (F.col("_p") + 1).cast("long").alias("pos"), "shingle")


def repeated_spans(grams: DataFrame) -> DataFrame:
    """Maximal cross-document repeated token spans — exact substring
    dedup at the word grain (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL'22; their suffix-array 50-token
    spans, re-expressed relationally): coalesce runs of position-aligned
    shared n-grams into maximal spans per (doc pair, alignment
    diagonal). A repeated substring of L >= n tokens appears as exactly
    L - n + 1 consecutive matching n-grams on one diagonal (n =
    ``GRAM_N``), so ``token_len = run + n - 1`` recovers the true span
    length; spans shorter than ``MIN_SPAN_TOKENS`` are dropped.

    ``grams``: :func:`positioned_shingles` output. Scale shape:
    - the self-join key is xxhash64(gram) — 8-byte keys shuffle ~7x
      less than 8-word strings (64-bit collisions cannot FABRICATE a
      span: a false span would need MIN_SPAN_TOKENS-n+1 consecutive
      colliding alignments; the one real risk is a collision inflating
      a gram's occurrence count past the cap, vanishing at ~n_grams^2 /
      2^65 and caught by the cross-engine oracle, which joins raw gram
      strings — swap in a 128-bit hash if a corpus ever trips it);
    - only grams seen 2..``MAX_GRAM_OCC`` times corpus-wide enter the
      self-join: occurrence 1 cannot match across documents (the vast
      majority of grams — measured ~90%+ — never leave the count
      aggregate), and the upper cap is the stop-gram guard bounding
      every gram's fan-out by MAX_GRAM_OCC^2 regardless of corpus size,
      the same discipline as ngram_exact_overlap's df cap. Boilerplate
      (license headers, nav text) is exactly what the cap drops;
    - islands need ONE window over the matched rows (pos_a -
      row_number() is constant per consecutive run within a diagonal —
      positions are unique there, since (doc, pos) identifies an
      occurrence), never a positions self-join.
    Returns (id_a, id_b, start_a, start_b, token_len), id_a < id_b.
    """
    g = grams.select("doc_id", "pos", F.xxhash64("shingle").alias("h"))
    kept = (
        g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter((F.col("_occ") >= 2) & (F.col("_occ") <= MAX_GRAM_OCC))
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
    return _spans(m, "id_a", "id_b", ("start_a", "start_b"))


def cross_repeated_spans(probe_grams: DataFrame, corpus_grams: DataFrame) -> DataFrame:
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
        .filter(F.col("_occ") <= MAX_GRAM_OCC)
        .select("h")
    )
    cg = cg.join(kept, "h", "left_semi")
    m = pg.join(cg, "h").select(
        "probe_id", "corpus_id", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
    )
    return _spans(m, "probe_id", "corpus_id", ("start_probe", "start_corpus"))


def _spans(m: DataFrame, a: str, b: str, starts: tuple[str, str]) -> DataFrame:
    """Maximal spans over matched grams ``m`` (<a>, <b>, pa, pb, diag):
    each run of consecutive positions on one diagonal is one span of
    run + ``GRAM_N`` - 1 tokens, kept at >= ``MIN_SPAN_TOKENS``. DuckDB
    mirror: plans.oracle_sql._spans_sql."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(a, b, "diag").orderBy("pa")
    return (
        m.withColumn("_isl", F.col("pa") - F.row_number().over(w))
        .groupBy(a, b, "diag", "_isl")
        .agg(
            F.min("pa").alias(starts[0]),
            F.min("pb").alias(starts[1]),
            (F.count(F.lit(1)) + F.lit(GRAM_N - 1)).cast("long").alias("token_len"),
        )
        .filter(F.col("token_len") >= MIN_SPAN_TOKENS)
        .select(a, b, *starts, "token_len")
    )


# ---------------------------------------------------------------------------
# exact n-gram contamination overlap
# ---------------------------------------------------------------------------


def ngram_exact_overlap(probe_grams: DataFrame, corpus_grams: DataFrame) -> DataFrame:
    """Exact n-gram overlap pairs (GPT-3-style decontamination): for every
    probe document, find corpus documents sharing >= ``MIN_SHARED`` exact
    word n-grams. Inputs are ``shingles()``-shaped (doc_id, shingle),
    distinct per doc, so the equi-join emits one row per shared gram and a
    plain count is the distinct intersection size.

    Grams appearing in more than ``MAX_GRAM_DF`` corpus docs are dropped
    before the join — the standard stop-gram guard: at 100 TB a
    boilerplate gram (license headers, nav text) would otherwise fan out
    |probe| x |corpus| rows; dropping high-DF grams bounds each gram's
    join output. Skew-safe by construction.
    """
    tr = corpus_grams.select(F.col("doc_id").alias("corpus_id"), "shingle")
    kept = (
        tr.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= MAX_GRAM_DF)
        .select("shingle")
    )
    tr = tr.join(kept, "shingle", "left_semi")
    pr = probe_grams.select(F.col("doc_id").alias("probe_id"), "shingle")
    return (
        pr.join(tr, "shingle")
        .groupBy("probe_id", "corpus_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
        .filter(F.col("shared_grams") >= MIN_SHARED)
    )
