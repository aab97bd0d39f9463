"""Text analysis operators (language ID, quality scoring, token counting,
fingerprinting) — built-in-expression based wherever a JVM formulation is
the fastest plan (the hot paths stay inside whole-stage codegen); the one
exception is winnowing, whose per-document window minima are strictly
row-local and run fastest as one Arrow-batched map pass.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ..store import keep

#: Tiny function-word lists for the n-gram/stopword language heuristic.
#: (Deliberately small + deterministic; a production list is a config.)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "ist"],
}

#: BPE-ish word/number/symbol tokenizer (letter runs, digit runs, single
#: non-space symbols) — a cheap stand-in for a real subword vocab.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


#: Winnowing geometry: char ``WINNOW_K``-grams, ``WINNOW_W``-wide windows
#: of gram hashes (any shared substring of >= K + W - 1 chars yields a
#: common fingerprint). Read by winnow_fingerprints and its DuckDB oracle.
WINNOW_K = 8
WINNOW_W = 4

#: inverted_index keeps terms in at least ``INDEX_MIN_DF`` documents and
#: the ``INDEX_MAX_POSTINGS`` lowest doc ids of each posting list.
INDEX_MIN_DF = 2
INDEX_MAX_POSTINGS = 10

#: bm25_topk's term-frequency saturation and length normalization.
BM25_K1 = 1.2
BM25_B = 0.75


def _collapse_ws(text: Column) -> Column:
    """Every whitespace run collapsed to one space and ends trimmed — the
    one whitespace folding of the text operators. regexp_replace runs
    before trim because Spark's trim strips ASCII spaces only (a tab at
    the ends would otherwise survive as a leading/trailing empty token).
    Java's ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]``, which the DuckDB
    oracle spells out (RE2's ``\\s`` lacks ``\\x0B``); U+00A0 is in
    neither."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def norm_ws(text: Column) -> Column:
    """Lowercased text with whitespace folded (:func:`_collapse_ws`): the
    token sequence of :func:`words` as ONE canonical string."""
    return _collapse_ws(F.lower(text))


def words(text: Column) -> Column:
    """Whitespace tokens of the lowercased text.

    Round-13 optimization (guide section 4.1): formerly
    ``filter(split(...), w -> w != '')`` — an array-lambda higher-order
    function, which Spark evaluates through INTERPRETED Catalyst eval
    (HOFs never enter whole-stage codegen). Fresh-JVM that path is fine,
    but deep into a many-query session its hot ``Expression.eval``
    dispatch sites get deoptimized/profile-polluted by unrelated
    generated classes and the same stage sporadically ran 10-25x slower
    (measured: full-suite spikes of 15-44 s on tokenizer-bound queries
    whose isolated-warm cost is ~1-2 s, host and GC exonerated). The
    split/array_remove form compiles into whole-stage codegen like any
    builtin and is immune. Byte-identical output (pinned by tests and
    the DuckDB oracles): empties arise only from leading/trailing
    whitespace, which the trim in norm_ws removes; NULL stays NULL."""
    return _split_norm(norm_ws(text))


def _split_norm(norm: Column) -> Column:
    """The tokens of a :func:`norm_ws` string."""
    return F.array_remove(F.split(norm, " "), "")


def ngram_array(text: Column, n: int) -> Column:
    """Overlapping word ``n``-grams (single-space-joined, in token
    order) of the lowercased whitespace-tokenized text, as an array.

    Codegen formulation (round 13, same motivation as :func:`words`):
    instead of ``transform(sequence(...), i -> concat_ws(' ',
    element_at(ws, i)...))`` — an interpreted HOF whose lambda pays
    2n+1 virtual ``eval`` calls per shingle — the n-gram windows are
    captured by ONE pass of a compiled regex over the
    whitespace-normalized string: at each token start, a lookahead
    captures the next n tokens. On the normalized string (single
    spaces) the capture IS the concat_ws-joined shingle. Empty capture
    list on docs shorter than n tokens; the old HOF's NULL-text
    behavior (empty array, via the when() guard) is preserved with a
    coalesce. regexp_extract_all compiles its literal pattern once and
    runs inside whole-stage codegen."""
    if n == 1:
        return words(text)
    pat = r"(?=((?:\S+ ){%d}\S+))\S+" % (n - 1)
    return F.coalesce(
        F.regexp_extract_all(norm_ws(text), F.lit(pat), 1),
        F.expr("CAST(array() AS array<string>)"),
    )


def stopword_hits(text: Column, lang: str = "en") -> Column:
    """How many tokens are function words of ``lang``.

    Codegen form (round 13): counts space-bounded stopword occurrences
    in the padded normalized string with one compiled regex
    (zero-width boundary lookarounds, so consecutive stopword tokens
    all match) instead of ``size(filter(words, w -> contains))`` —
    the interpreted-HOF pathology described in :func:`words`. NULL
    text propagates to NULL through concat/regexp_count exactly as it
    did through size(filter(NULL)) under ANSI semantics."""
    return _stopword_count(norm_ws(text), lang)


def _stopword_count(norm: Column, lang: str) -> Column:
    """Stopword tokens of ``lang`` in a :func:`norm_ws` string: one
    regexp_count of space-bounded alternatives over the space-padded
    string."""
    pat = "(?<= )(?:" + _stopword_alternation(lang) + ")(?= )"
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    return F.regexp_count(padded, F.lit(pat)).cast("int")


def _stopword_alternation(lang: str) -> str:
    """Regex alternation over the language's stopwords, each escaped
    (round-14, the r13 ADVICE hardening): today's lists are purely
    alphabetic so the escape is a no-op, but a future entry containing a
    regex metacharacter would silently change the count instead of
    failing, and a whitespace-bearing entry can never match a single
    token of the normalized string — reject both (ValueError, which
    ``python -O`` keeps) so a list edit cannot corrupt the pattern."""
    import re as _re

    ws = STOPWORDS[lang]
    if not all(w and not _re.search(r"\s", w) for w in ws):
        raise ValueError(f"STOPWORDS[{lang!r}] must be non-empty single tokens")
    return "|".join(_re.escape(w) for w in ws)


def langid_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row stopword-ratio score for each candidate language + argmax.

    A real n-gram LM is a broadcast lookup table + the same explode/join
    shape; ratios here keep it dependency-free and oracle-checkable.
    """
    n_tokens = F.size(words(F.col(text_col)))
    out = df.withColumn("n_tokens", n_tokens)
    best_lang, best_score = F.lit("und"), F.lit(-1.0)
    for lang in sorted(STOPWORDS):
        score = F.round(stopword_hits(F.col(text_col), lang) / F.greatest(n_tokens, F.lit(1)), 4)
        out = out.withColumn(f"score_{lang}", score)
        better = F.col(f"score_{lang}") > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, F.col(f"score_{lang}")).otherwise(best_score)
    return out.withColumn("pred_lang", best_lang)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a composite
    score in [0,1] (monotone in "looks like prose")."""
    text = F.col(text_col)
    n_chars = F.length(text)
    # materialized normalized-string projection: the features below
    # derive the token array AND the stopword count from it (~6
    # references), and an un-aliased norm_ws(text) would re-run the
    # regex normalization per reference (see operators.dedup.shingles)
    df = df.select("*", norm_ws(text).alias("_norm"))
    norm = F.col("_norm")
    n_words = F.size(_split_norm(norm))
    avg_word_len = (n_chars - (n_words - 1)) / F.greatest(n_words, F.lit(1))
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
    sw_ratio = _stopword_count(norm, "en") / F.greatest(n_words, F.lit(1))
    score = (
        F.least(n_words / F.lit(200.0), F.lit(1.0)) * 0.4
        + F.least(sw_ratio * 5, F.lit(1.0)) * 0.4
        + F.when((avg_word_len >= 3) & (avg_word_len <= 10), 0.2).otherwise(0.0)
    )
    return df.select(
        "*",
        n_words.alias("n_words"),
        F.round(avg_word_len, 4).alias("avg_word_len"),
        n_punct.alias("n_punct"),
        F.round(sw_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"),
    ).drop("_norm")


def word_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy of the word distribution (nats) —
    the CCNet-style diversity signal: repetitive/templated text scores
    low, natural prose high.

    Computed as ``ln(n) - sum(c_i * ln(c_i)) / n`` over per-word counts
    c_i — algebraically equal to ``-sum(p ln p)`` but keeps every log
    argument an exact integer, which is what lets a DuckDB oracle match
    to fixed rounding. One explode + two hash aggregates (both partial-
    aggregated map-side); documents with no words emit no row."""
    uni = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("w")
    )
    wc = uni.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return wc.groupBy(id_col).agg(
        n.cast("long").alias("n_words"),
        (F.log(n) - F.sum(F.col("c") * F.log("c")) / n).alias("entropy"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    text = F.col(text_col)
    return df.select(
        "*",
        F.size(words(text)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).alias("re_tokens"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document, pure DataFrame ops (no MLlib —
    keeps it oracle-checkable and JVM-side).

    tfidf = tf * (ln((N+1)/(df+1)) + 1)  (smoothed idf)

    Two aggregations + one broadcast of the tiny (term, df) relation; the
    corpus-size scalar is a broadcast cross join, never a driver collect.
    """
    tokens = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words(F.col(text_col))).alias("term")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = (
        tokens.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            # quantized comparator: log() is libm-dependent, and a
            # full-precision rank can flip across engines when two terms'
            # scores land within an ulp (see bm25_topk / weighted_sample_topk)
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalization-stable document fingerprint: md5 of lower(collapse-ws)
    + a 16-hex-char prefix usable as a 64-bit shard/bucket key."""
    fp = F.md5(norm_ws(F.col(text_col)))
    return df.select("*", fp.alias("fp"), F.substring(fp, 1, 16).alias("fp64"))


def winnow_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every char ``WINNOW_K``-gram
    of the :func:`norm_ws` text, slide a ``WINNOW_W``-wide window over
    the hash sequence, keep each window's minimum. Guarantees any shared
    substring of length >= K + W - 1 contributes at least one common
    fingerprint — the position-robust complement of the whole-document
    fingerprint (`fingerprint`) and set-based MinHash.

    Formulation: MAP-ONLY. A document's fingerprints depend on nothing but
    its own text, so the whole operator is one Arrow UDF:
    normalized texts cross to Python once per batch, each doc's gram
    hashes and window minima are computed in numpy, and only the per-doc
    fingerprint arrays come back. No explode, no shuffle, no window sort —
    work is bounded by text bytes scanned per partition, embarrassingly
    parallel at any corpus size.

    Gram hash: winnowing needs any consistent hash (SIGMOD'03 §2), not a
    cryptographic one. A per-gram ``hashlib.md5`` loop ran at Python rate
    (~1 call per text byte — 12 s at sf0.1, the suite's slowest query by
    2x); instead each gram's base-128 codepoint value is computed by a
    vectorized Horner pass over the codepoint array and scrambled by an
    odd golden-ratio multiplier mod 2^63 — a bijection, so gram
    distinctness is preserved and the window minima are uniformly
    distributed. The DuckDB oracle (``oracle_sql.winnow_fps_sql``) states
    the identical arithmetic over the same normalization, its Horner
    value in HUGEINT reduced mod 2^63 before the multiply (the residue
    the uint64 wrap and 63-bit mask keep), so any codepoint range
    matches. Short docs (< K + W - 1
    chars) yield an empty fingerprint set, matching the windowed
    definition.

    Returns the kept (persisted) per-document relation ``(doc_id, fps
    array<bigint>)``: every caller in a session shares ONE UDF pass
    through CacheManager plan matching; ``store.release()`` frees it."""
    k, w = WINNOW_K, WINNOW_W

    @arrow_udf("array<bigint>")
    def fps_pa(norms: pa.Array) -> pa.Array:
        import numpy as np

        mult = np.uint64(11400714819323198485)  # odd -> bijective mod 2^63
        mask = np.uint64(0x7FFFFFFFFFFFFFFF)
        out = []
        with np.errstate(over="ignore"):  # uint64 wraparound is the design
            for s in norms.to_pylist():
                ng = 0 if s is None else len(s) - k + 1
                if ng < w:  # no full w-wide window of grams
                    out.append([])
                    continue
                raw = s.encode("utf-8")
                if len(raw) == len(s):  # pure ASCII: zero-copy vector path
                    b = np.frombuffer(raw, np.uint8).astype(np.uint64)
                else:  # non-ASCII: per-codepoint values
                    b = np.fromiter(map(ord, s), np.uint64, len(s))
                g = np.zeros(ng, dtype=np.uint64)
                for j in range(k):  # Horner: g = ((c0*128 + c1)*128 + ...)
                    g = g * np.uint64(128) + b[j : j + ng]
                hs = (g * mult) & mask
                m = hs[: ng - w + 1]
                for j in range(1, w):  # sliding window min, vectorized
                    m = np.minimum(m, hs[j : ng - w + 1 + j])
                out.append(np.unique(m).astype(np.int64).tolist())
        return pa.array(out, pa.list_(pa.int64()))

    # a small single-file source scans as ONE split, serializing the UDF on
    # one Python worker (measured 3x the whole-query time at sf0.1);
    # spread it — at real scale the source has >= cores splits and this is
    # a no-op branch, so no shuffle is added where it matters
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    return keep(
        df.select(
            F.col(id_col).alias("doc_id"),
            fps_pa(norm_ws(F.col(text_col))).alias("fps"),
        )
    )


def normalize_text(text: Column) -> Column:
    """Canonical cleaning pass: lowercase, strip non-alphanumerics to
    spaces, collapse runs of whitespace, trim. Character classes are kept
    to ASCII-safe sets so the identical regex means the same thing in
    Java regex (Spark) and RE2 (other engines)."""
    return _collapse_ws(F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " "))


#: Conservative PII patterns — ASCII-only so Java regex and RE2 agree.
PII_PATTERNS = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3,4}[-.]?\d{0,4}\b", "<PHONE>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace email/phone/SSN-shaped spans with typed placeholder tokens
    and count the replacements per row. Pure regexp_replace chain — stays
    in codegen; at 100 TB this is a map-only stage with zero shuffle.
    SSN runs before phone so the more specific pattern wins overlaps."""
    out = F.col(text_col)
    for name, pat, token in sorted(PII_PATTERNS, key=lambda p: p[0] != "ssn"):
        out = F.regexp_replace(out, pat, token)
    n_pii = sum(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        for _, pat, _ in PII_PATTERNS
    )
    return df.withColumn("scrubbed", out).withColumn(
        "n_pii", n_pii.cast("long")
    )


#: HTML entity -> replacement text, applied after tag stripping. Ordered:
#: &amp; goes LAST so it cannot manufacture new entities out of fragments.
_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def strip_markup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Remove HTML/XML tags and decode the common entities — the
    boilerplate-stripping pass scraped corpora need before any text
    analysis. Pure regexp_replace/replace chain: map-only, stays in
    whole-stage codegen, zero shuffle at any corpus size. Adds
    ``clean`` (stripped text, whitespace collapsed) and ``n_tags``
    (tags removed — the markup-density quality signal)."""
    raw = F.col(text_col)
    out = F.regexp_replace(raw, r"<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return df.withColumn("clean", _collapse_ws(out)).withColumn(
        "n_tags",
        F.size(F.regexp_extract_all(raw, F.lit(r"<[^>]+>"), F.lit(0))).cast(
            "long"
        ),
    )


def extract_urls(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per URL found in the text, with the canonical form used
    for URL-level dedup: scheme dropped to https, host lowercased, query
    string / fragment / trailing punctuation removed. Extraction and
    normalization are regex-only (ASCII classes, no backreferences — the
    subset Java regex and RE2 evaluate identically)."""
    urls = F.regexp_extract_all(
        F.col(text_col),
        F.lit(r"(?i)https?://[A-Za-z0-9._~:/?#@!$&'()*+,;=%-]+"),
        F.lit(0),
    )
    # trailing sentence punctuation is text, not URL — strip it from the
    # RAW match before splitting host/path, so a pathless URL followed by
    # punctuation ('see http://x.org, next') cannot keep the comma inside
    # host and corrupt the canonical dedup key
    e = df.select(F.col(id_col), F.explode(urls).alias("_m")).select(
        id_col, F.regexp_replace("_m", r"[.,;:!?)]+$", "").alias("url")
    )
    host = F.lower(F.regexp_extract("url", r"(?i)^https?://([^/?#]+)", 1))
    path = F.regexp_extract("url", r"(?i)^https?://[^/?#]+([^?#]*)", 1)
    # a path immediately followed by the dropped query/fragment can still
    # end in punctuation ('/a.?q=1') — strip again for the canonical form
    path = F.regexp_replace(path, r"[.,;:!?)]+$", "")
    return e.select(
        id_col,
        "url",
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("url_norm"),
    )


def bigrams(tokens: Column) -> Column:
    """Adjacent-token bigrams of a token array, as an array column; no
    explode until the caller asks for one, so the array stays columnar
    through intermediate stages. (Bigrams of text: ``ngram_array(text,
    2)``.)

    PARAMETER CONTRACT: every element must be a non-NULL, non-empty,
    whitespace-free token — i.e. :func:`words` output, which is what
    every in-repo caller passes. A token containing a space, an
    empty-string token, or a NULL element would yield different grams
    than the old transform/element_at form (the array_join can no longer
    tell token boundaries apart); callers with arrays that may violate
    the contract must normalize them first.

    Round-13 codegen form (see :func:`words` for the interpreted-HOF
    pathology this removes): the tokens are re-joined with single spaces
    (tokens contain no whitespace by construction, so the join IS the
    normalized string) and overlapping windows are captured with one
    compiled lookahead regex instead of a ``transform`` lambda. NULL/short
    inputs match the old form exactly: a NULL token array propagates NULL
    (under ANSI size(NULL)=NULL the old when() fell through to a
    transform over a NULL sequence -> NULL), and a 0/1-token array joins
    to a string with no window -> []."""
    pat = r"(?=(\S+ \S+))\S+"
    return F.regexp_extract_all(F.array_join(tokens, " "), F.lit(pat), 1)


def inverted_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Term -> (document frequency, capped posting list) over word bigrams
    in at least ``INDEX_MIN_DF`` documents.

    The indexing primitive of retrieval pipelines: one explode + one
    groupBy (map-side combine collapses per-partition duplicates before
    the shuffle). Posting lists are CAPPED — sort_array + slice keeps the
    ``INDEX_MAX_POSTINGS`` lowest doc ids — because unbounded collect_list over
    a hot term is the classic agg-state blowup at corpus scale; a full
    index shards postings instead (term bucketing), this operator is the
    per-shard build. Bigrams (not unigrams) keep the term space
    meaningful on small vocabularies."""
    base = df.select(F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("_ws"))
    terms = base.select(
        "doc_id", F.explode(bigrams(F.col("_ws"))).alias("term")
    ).distinct()
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df_count"),
            F.slice(
                F.sort_array(F.collect_list("doc_id")), 1, INDEX_MAX_POSTINGS
            ).alias("postings"),
        )
        .filter(F.col("df_count") >= INDEX_MIN_DF)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval for a fixed query — the lexical baseline next
    to the ANN paths (hybrid search = this union embedding top-k).

    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b*dl/avgdl)),
    k1 = ``BM25_K1``, b = ``BM25_B``,
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

    ONE token explode + ONE groupBy: per-doc length and each query
    term's tf are side-by-side aggregate expressions over the same pass
    (the naive form re-scans tokens for lengths, tf, and df separately).
    Corpus stats (N, avgdl, per-term df) reduce the wide table to a
    single broadcast row; scoring is then a pure projection. Per-term
    scores live in COLUMNS and sum in fixed query order — a float-order
    guarantee: SUM over rows is accumulation-order-nondeterministic,
    which would make the total differ in the last ulp across
    engines/runs. dl/tf/df/N are integers and avgdl an exact
    integer-sum mean, so every float input is engine-identical."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words(F.col(text_col))).alias("term")
    )
    wide = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = (
        wide.agg(
            F.avg("dl").alias("avgdl"),
            *[
                F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
                for i in range(len(query_terms))
            ],
        )
        .crossJoin(df.agg(F.countDistinct(id_col).alias("n_docs")))
    )
    k1, b = BM25_K1, BM25_B
    total = None
    for i in range(len(query_terms)):
        tf_i, df_i = F.col(f"tf{i}"), F.col(f"df{i}")
        s = F.when(
            tf_i > 0,
            F.log(1 + (F.col("n_docs") - df_i + 0.5) / (df_i + 0.5))
            * (tf_i * (k1 + 1))
            / (tf_i + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        ).otherwise(F.lit(0.0))
        total = s if total is None else total + s
    from pyspark.sql.window import Window

    # rank by the QUANTIZED score (6 decimals, doc_id tiebreak): ln() is
    # libm-dependent, so full-precision comparators can disagree across
    # engines in the last ulp and flip a rank boundary (same failure mode
    # fixed in sampling.weighted_sample_topk) — the rounded comparator
    # makes the ranking platform-invariant
    w = Window.orderBy(F.desc("score"), F.col("doc_id"))
    any_hit = None
    for i in range(len(query_terms)):
        hit = F.col(f"tf{i}") > 0
        any_hit = hit if any_hit is None else (any_hit | hit)
    return (
        wide.crossJoin(F.broadcast(stats))
        .filter(any_hit)  # docs with no query term never ranked (as before)
        .select("doc_id", F.round(total, 6).alias("score"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "score", "rk")
    )


def char_pair_counts(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies — the counting step
    of one BPE merge iteration (the pair with the max count is the next
    merge). Pairs come from substring windows inside each word (never
    across whitespace, matching BPE's word-boundary rule); counting is the
    same explode -> partial+final aggregate as bigram_counts, and top-k is
    TakeOrderedAndProject. A full BPE trainer is this operator iterated
    with a (tiny, broadcast) merge table."""
    ws = df.select(F.explode(words(F.col(text_col))).alias("w")).filter(
        F.length("w") >= 2
    )
    # codegen pair capture (round 13, see words()): one compiled regex —
    # at every char ('.' consumes one; (?s) so no char class is excluded,
    # though tokens cannot contain \s line breaks anyway) a lookahead
    # captures the 2-char window, yielding the same len-1 adjacent pairs
    # as the old transform(sequence, i -> substr(i, 2)) lambda.
    pairs = ws.select(
        F.explode(
            F.regexp_extract_all("w", F.lit(r"(?s)(?=(..))."), 1)
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(k)
    )


def bigram_counts(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Corpus-wide top-k bigram frequencies. explode -> partial+final
    count: the map-side combine collapses each partition's duplicates
    before the single shuffle; top-k is TakeOrderedAndProject (no global
    sort materialization).

    Tokenization is materialized in its own projection first — the bigram
    lambda references the token array twice per element, and without the
    barrier the regex split re-evaluates per element_at (the same
    CollapseProject behavior documented in operators.dedup.shingles)."""
    base = df.select(words(F.col(text_col)).alias("_ws"))
    return (
        base.select(F.explode(bigrams(F.col("_ws"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(k)
    )
