"""BPE merge learning (Sennrich et al., ACL'16) — the iterative
tokenizer-training step: spell each distinct word as space-separated
symbols, repeatedly (a) count adjacent symbol pairs weighted by word
frequency, (b) adopt the most frequent pair as a merge, (c) rewrite every
word with the merged symbol.

Distribution contract (the k-means pattern): ALL counting/rewriting stays
DataFrame-side; the only driver traffic is ONE row per round (the argmax
pair) — bounded by n_merges regardless of corpus size. The per-round
shuffle is the (pair -> weighted count) aggregate over the DISTINCT-WORD
relation, which is vocabulary-sized, not corpus-sized: at 100 TB the
corpus collapses to |vocab| rows in the first aggregate and every round
after that runs on the reduced relation.

Cross-engine determinism: the merge rewrite is TWO composed scan-left
non-overlapping string replaces (delimiter-sharing adjacent matches need
the second pass; both engines implement the identical standard replace
semantics, so any composition agrees bit-for-bit). Ranking counts
adjacent pairs (overlapping, the classic BPE statistic) with a
(count DESC, pair ASC) tiebreak; counts are exact BIGINT sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store

#: Adjacent (symbol, next-symbol) pairs of a spelled word, codegen form
#: (round 14): ONE compiled lookahead regex over the trimmed seq captures
#: every overlapping "l r" window — at each symbol start the lookahead
#: captures the symbol and its right neighbor, exactly the adjacent-pair
#: statistic (the ngram_array n=2 idiom, operators/text.py). The previous
#: form, kept here as the reference the differential test restates
#: (tests/test_codegen_tokenizer.py::test_bpe_pairs_codegen_equals_hof),
#:
#:   transform(sequence(1, size(toks) - 1),
#:             i -> struct(element_at(toks, i) AS l,
#:                         element_at(toks, i + 1) AS r))
#:
#: is an interpreted-eval HOF (array lambdas never enter whole-stage
#: codegen) paying ~5 virtual eval calls per pair per round — the
#: round-13 JVM stall pathology class (OPTIMIZATION_r13.md §7). Symbols
#: are space-free by construction (spell() emits single chars of
#: whitespace-split tokens; merges concatenate them), so the single
#: space inside the capture is an unambiguous delimiter and
#: substring_index recovers (l, r) exactly.
_PAIRS_PATTERN = r"(?=(\S+ \S+))\S+"


def spell(word: Column) -> Column:
    """' h e l l o ' — one space-padded symbol per character."""
    return F.concat(F.lit(" "), F.regexp_replace(word, "(.)", "$1 "))


def bpe_learn_merges(
    words: DataFrame,
    word_col: str,
    weight_col: str,
    n_merges: int = 5,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over a (word, frequency) relation.

    Returns (merge_rank, left, right, merged, pair_count) — one row per
    adopted merge, in adoption order. Stops early if no pair remains.
    """
    spark = words.sparkSession
    # persist the vocabulary-sized input: every round's pair aggregate
    # re-evaluates the lineage, and without this the upstream corpus
    # word-count scan would re-run once per merge round
    wf = words.select(
        F.col(weight_col).cast("long").alias("n"), spell(F.col(word_col)).alias("seq")
    ).persist()
    base = wf
    out_schema = (
        "merge_rank int, left_sym string, right_sym string,"
        " merged string, pair_count long"
    )
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        # single-symbol words yield an empty capture array and explode
        # drops them — the old form's size(toks) >= 2 guard, for free
        pairs = F.regexp_extract_all(
            F.trim(F.col("seq")), F.lit(_PAIRS_PATTERN), 1
        )
        best = (
            wf.select("n", F.explode(pairs).alias("p"))
            .groupBy(
                F.substring_index("p", " ", 1).alias("l"),
                F.substring_index("p", " ", -1).alias("r"),
            )
            .agg(F.sum("n").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], best[0]["pair_count"]
        merges.append((rank, l, r, l + r, c))
        pat = F.lit(f" {l} {r} ")
        rep = F.lit(f" {l}{r} ")
        # two passes: adjacent disjoint matches share a delimiter space,
        # so one scan-left replace misses every second occurrence
        wf = wf.withColumn(
            "seq", F.replace(F.replace(F.col("seq"), pat, rep), pat, rep)
        )
    base.unpersist(blocking=False)
    return store.rows(spark, merges, out_schema)
