"""DuckDB mirrors of the shared operators, one builder per operator.

Every registered query carries a DuckDB oracle; the oracles of queries
that run the same operator (the word split, shingling, MinHash banding,
Jaccard verify, the md5-hex integer, the Bloom, Count-Min and KMV
sketches, ...) build it here, so each primitive is spelled exactly
once. This module registers no queries and imports no plan module that
does, so any plan module can use it without depending on registration
order.

Fragments that take no parameter are plain strings. Builders that
return CTE text (``minhash_bands_sql``, ``overlap_sql``,
``verify_jaccard_sql``) expect the caller's ``WITH`` to define ``sh``,
the distinct ``(doc_id, shingle)`` relation; the decontamination
builders (``ngram_overlap_sql``, ``*spans_sql``) build their own.
"""

from __future__ import annotations

from ..operators import dedup, similarity, text
from ..operators.dedup import JACCARD_FLOOR, NUM_HASHES, ROWS_PER_BAND
from ..operators.sampling import TEST_PCT, TRAIN_FROM
from ..operators.sketch import BLOOM_K, CMS_D, KMV_K, KMV_SPACE
from .registry import _SAMPLE_PCT, _SAMPLE_TARGET_DOCS

#: Java's ``\s`` spelled out for RE2, whose ``\s`` lacks the vertical
#: tab (U+000B); U+00A0 is in neither
ws_class_sql = r"[\t\n\v\f\r ]"


def non_ws_class_sql(chars: str) -> str:
    """RE2 class of one character neither in ``chars`` (a class body like
    ``a-z0-9``) nor whitespace — mirrors Java's ``[^<chars>\\s]``."""
    return f"[^{chars}{ws_class_sql[1:-1]}]"


#: letter runs, digit runs and single non-space symbols — mirrors
#: operators.text.TOKEN_REGEX
token_regex_sql = f"[A-Za-z]+|[0-9]+|{non_ws_class_sql('A-Za-z0-9')}"

#: lowercase whitespace split with empty tokens dropped — mirrors
#: operators.text.words
words_sql = f"list_filter(string_split_regex(lower(text), '{ws_class_sql}+'), w -> w <> '')"


def collapse_ws_sql(expr: str) -> str:
    """``expr`` with every whitespace run folded to one space and ends
    trimmed — mirrors operators.text._collapse_ws. The trim names its
    one character because Spark's trim strips ASCII spaces only, where
    DuckDB's bare trim also strips U+00A0 and other Unicode spaces."""
    return f"trim(regexp_replace({expr}, '{ws_class_sql}+', ' ', 'g'), ' ')"


#: lowercased, whitespace-folded text — mirrors operators.text.norm_ws
norm_ws_sql = collapse_ws_sql("lower(text)")

#: whole-document md5 of the normalized text — mirrors
#: operators.text.fingerprint
fingerprint_sql = f"md5({norm_ws_sql})"

#: one row per (doc_id, token) occurrence
tokens_sql = f"SELECT doc_id, unnest({words_sql}) AS token FROM documents"


def hex_sql(md5_hex: str, start: int | str = 1, width: int = 4) -> str:
    """Integer value of ``width`` hex digits of the lowercase hex digest
    ``md5_hex`` starting at 1-based ``start`` (an int, or a SQL
    expression) — mirrors operators.sampling.hex_int. DuckDB 1.0 has no
    hex->int cast; alphabet positions are portable and exact, and a NULL
    digest stays NULL."""

    def pos(i: int) -> str:
        return str(start + i) if isinstance(start, int) else f"{start} + {i}"

    terms = [
        f"(strpos('0123456789abcdef', substring({md5_hex}, {pos(i)}, 1)) - 1)"
        f" * {16 ** (width - 1 - i)}"
        for i in range(width)
    ]
    return "(" + " + ".join(terms) + ")"


def hash_bucket_sql(key_sql: str) -> str:
    """Bucket in [0, 100) of the key — mirrors operators.sampling.hash_bucket."""
    return f"({hex_sql(f'md5(CAST({key_sql} AS VARCHAR))')} % 100)"


def in_test_split_sql(key_sql: str) -> str:
    """Mirrors operators.sampling.in_test_split."""
    return f"{hash_bucket_sql(key_sql)} < {TEST_PCT}"


def in_train_split_sql(key_sql: str) -> str:
    """Mirrors operators.sampling.in_train_split."""
    return f"{hash_bucket_sql(key_sql)} >= {TRAIN_FROM}"


def train_test_split_sql(key_sql: str) -> str:
    """Mirrors operators.sampling.train_test_split (a NULL key is 'train')."""
    return (
        f"CASE WHEN {in_test_split_sql(key_sql)} THEN 'test' "
        f"WHEN NOT ({in_train_split_sql(key_sql)}) THEN 'holdout' ELSE 'train' END"
    )


def sub_block_sql(key_sql: str, n_sql: str, cap: int) -> str:
    """Capped sub-block of ``key_sql`` in a block of ``n_sql`` rows: its
    md5-hex4 integer modulo ceil(n/cap) — mirrors
    operators.sampling.sub_block."""
    hex4 = hex_sql(f"md5(CAST({key_sql} AS VARCHAR))")
    return f"{hex4} % (({n_sql} + {cap - 1}) // {cap})"


def sampled_docs_sql(cap_pct: int = _SAMPLE_PCT) -> str:
    """CTE ``docs_sampled``: the deterministic doc sample the Spark side
    takes with sampling.hash_bucket(doc_id) < registry._sample_pct(n,
    cap_pct)."""
    n = "(SELECT COUNT(*) FROM documents)"
    pct = (
        f"COALESCE(LEAST({cap_pct}, "
        f"(100 * {_SAMPLE_TARGET_DOCS} + {n} - 1) // NULLIF({n}, 0)), "
        f"{cap_pct})"
    )
    return (
        "docs_sampled AS (SELECT * FROM documents "
        f"WHERE {hash_bucket_sql('doc_id')} < {pct})"
    )


def stoplist_sql(lang: str) -> str:
    """operators.text.STOPWORDS[lang] as a SQL IN-list body."""
    return ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])


def shingles_sql(n: int, positional: bool = False, src: str = "documents") -> str:
    """Word-``n``-gram shingles of ``src`` (doc_id, text): distinct
    ``(doc_id, shingle)`` rows — mirrors dedup.shingles — or, with
    ``positional``, one ``(doc_id, pos, shingle)`` row per occurrence at
    its 1-based token position — mirrors dedup.positioned_shingles."""
    gram = " || ' ' || ".join(
        "ws[i]" if k == 0 else f"ws[i + {k}]" for k in range(n)
    )
    rows = f"""
        SELECT doc_id, i AS pos, {gram} AS shingle
        FROM (SELECT doc_id, {words_sql} AS ws FROM {src}) w,
             UNNEST(generate_series(1, greatest(len(ws) - {n - 1}, 0))) AS g(i)"""
    if positional:
        return rows
    return f"SELECT DISTINCT doc_id, shingle FROM ({rows})"


def minhash_bands_sql(cap: int | None = None) -> str:
    """CTEs ``sig`` (doc_id, seed, minhash) and ``bands`` (doc_id, band,
    band_key) over ``sh`` — mirrors dedup.minhash_wide_signatures +
    lsh_band_keys at the dedup module's geometry. Lexicographic MIN over
    fixed-width md5 hex equals the numeric min-hash. With ``cap``, band
    buckets holding more than ``cap`` docs are dropped (the
    max_bucket_size skew control)."""
    sig = f"""sig AS (
        SELECT doc_id, s.seed,
               MIN(md5(shingle || '|' || CAST(s.seed AS VARCHAR))) AS minhash
        FROM sh CROSS JOIN
             (SELECT unnest(generate_series(0, {NUM_HASHES - 1})) AS seed) s
        GROUP BY doc_id, s.seed
    )"""
    name = "bands" if cap is None else "all_bands"
    bands = f"""{name} AS (
        SELECT doc_id, seed // {ROWS_PER_BAND} AS band,
               md5(CAST(seed // {ROWS_PER_BAND} AS VARCHAR) || '|' ||
                   string_agg(minhash, '|' ORDER BY minhash)) AS band_key
        FROM sig GROUP BY doc_id, band
    )"""
    if cap is None:
        return f"{sig},\n    {bands}"
    return f"""{sig},
    {bands},
    bands AS (
        SELECT b.* FROM all_bands b JOIN (
            SELECT band_key FROM all_bands GROUP BY band_key
            HAVING COUNT(*) <= {cap}) USING (band_key)
    )"""


def overlap_sql(pairs: str, ids: tuple[str, str] = ("id_a", "id_b")) -> str:
    """CTEs ``sizes`` (doc_id, n) and ``inter`` (<ids>, n_inter): shingle
    set sizes over ``sh`` and the shingle-overlap count of each candidate
    pair in relation ``pairs`` — mirrors the join half of
    dedup.verify_jaccard."""
    a, b = ids
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT p.{a}, p.{b}, COUNT(*) AS n_inter
        FROM {pairs} p
        JOIN sh sa ON sa.doc_id = p.{a}
        JOIN sh sb ON sb.doc_id = p.{b} AND sb.shingle = sa.shingle
        GROUP BY p.{a}, p.{b}
    )"""


def verify_jaccard_sql(
    pairs: str, threshold: float, ids: tuple[str, str] = ("id_a", "id_b")
) -> str:
    """``overlap_sql`` CTEs followed by the final SELECT of the pairs in
    ``pairs`` whose exact shingle Jaccard is >= ``threshold``:
    (<ids>, jaccard rounded to 6 dp) — mirrors dedup.verify_jaccard."""
    a, b = ids
    j = "i.n_inter * 1.0 / (na.n + nb.n - i.n_inter)"
    return f"""{overlap_sql(pairs, ids)}
    SELECT i.{a}, i.{b}, ROUND({j}, 6) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.{a}
    JOIN sizes nb ON nb.doc_id = i.{b}
    WHERE {j} >= {threshold}"""


def minhash_pairs_sql(src: str, shingle_n: int, cap: int | None) -> str:
    """Jaccard-verified MinHash-LSH near-dup pairs (id_a, id_b, jaccard)
    over ``src`` — mirrors dedup.minhash_near_duplicates
    (registry.std_minhash_pairs is ``("documents", 3, None)``,
    capped_minhash_pairs ``("documents", 1, 50)``)."""
    return f"""
    WITH sh AS ({shingles_sql(shingle_n, src=src)}),
    {minhash_bands_sql(cap)},
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band_key)
        WHERE a.doc_id < b.doc_id
    ),
    {verify_jaccard_sql("pairs", JACCARD_FLOOR)}"""


def ngram_overlap_sql() -> str:
    """CTEs ending in ``pairs`` (test_id, train_id, shared_grams) — mirrors
    dedup.ngram_exact_overlap from the eval split's test to its train
    documents."""
    return f"""sh AS ({shingles_sql(dedup.GRAM_N)}),
    te AS (SELECT doc_id AS test_id, shingle FROM sh
           WHERE {in_test_split_sql("doc_id")}),
    tr AS (SELECT doc_id AS train_id, shingle FROM sh
           WHERE {in_train_split_sql("doc_id")}),
    kept AS (SELECT shingle FROM tr GROUP BY shingle
             HAVING COUNT(*) <= {dedup.MAX_GRAM_DF}),
    pairs AS (
        SELECT te.test_id, tr.train_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
        FROM te JOIN kept USING (shingle) JOIN tr USING (shingle)
        GROUP BY te.test_id, tr.train_id
        HAVING COUNT(*) >= {dedup.MIN_SHARED}
    )"""


def _spans_sql(a: str, b: str, starts: tuple[str, str]) -> str:
    """CTEs ``isl`` and ``spans`` over the caller's matched grams ``m``
    (<a>, <b>, pa, pb, diag) — mirrors dedup._spans."""
    n = dedup.GRAM_N
    return f"""isl AS (
        SELECT *,
               pa - ROW_NUMBER() OVER (
                   PARTITION BY {a}, {b}, diag ORDER BY pa) AS grp
        FROM m
    ),
    spans AS (
        SELECT {a}, {b},
               CAST(MIN(pa) AS BIGINT) AS {starts[0]},
               CAST(MIN(pb) AS BIGINT) AS {starts[1]},
               CAST(COUNT(*) + {n - 1} AS BIGINT) AS token_len
        FROM isl
        GROUP BY {a}, {b}, diag, grp
        HAVING COUNT(*) + {n - 1} >= {dedup.MIN_SPAN_TOKENS}
    )"""


def repeated_spans_sql() -> str:
    """CTEs ending in ``spans`` (id_a, id_b, start_a, start_b, token_len)
    — mirrors dedup.repeated_spans over dedup.positioned_shingles."""
    return f"""pg AS ({shingles_sql(dedup.GRAM_N, positional=True)}),
    kept AS (SELECT shingle FROM pg GROUP BY shingle
             HAVING COUNT(*) BETWEEN 2 AND {dedup.MAX_GRAM_OCC}),
    g AS (SELECT doc_id, pos, shingle FROM pg JOIN kept USING (shingle)),
    m AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
        FROM g a JOIN g b USING (shingle)
        WHERE a.doc_id < b.doc_id
    ),
    {_spans_sql("id_a", "id_b", ("start_a", "start_b"))}"""


def cross_spans_sql() -> str:
    """CTEs ending in ``spans`` (probe_id, corpus_id, start_test,
    start_train, token_len) — mirrors dedup.cross_repeated_spans from the
    eval split's test to its train documents."""
    return f"""pg AS ({shingles_sql(dedup.GRAM_N, positional=True)}),
    te AS (SELECT doc_id AS probe_id, pos AS pa, shingle FROM pg
           WHERE {in_test_split_sql("doc_id")}),
    tr0 AS (SELECT doc_id AS corpus_id, pos AS pb, shingle FROM pg
            WHERE {in_train_split_sql("doc_id")}),
    kept AS (SELECT shingle FROM tr0 GROUP BY shingle
             HAVING COUNT(*) <= {dedup.MAX_GRAM_OCC}),
    tr AS (SELECT tr0.* FROM tr0 JOIN kept USING (shingle)),
    m AS (SELECT probe_id, corpus_id, pa, pb, pa - pb AS diag
          FROM te JOIN tr USING (shingle)),
    {_spans_sql("probe_id", "corpus_id", ("start_test", "start_train"))}"""


#: (doc_id, component) over the std MinHash pairs graph: every document
#: labelled with the min doc_id it reaches — the recursive-CTE closure
#: mirroring graph.connected_components over registry.std_minhash_pairs
clusters_sql = f"""
    WITH RECURSIVE good AS (
        SELECT id_a, id_b FROM ({minhash_pairs_sql("documents", 3, None)})
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM good
              UNION SELECT id_b, id_a FROM good),
    reach AS (
        SELECT doc_id AS a, doc_id AS b FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    )
    SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a"""

#: (doc_id, simhash) 16-bit SimHash over term-frequency-weighted tokens
#: hashed by the first 4 hex digits of md5(token) — mirrors dedup.simhash16
simhash16_sql = f"""
    WITH tf AS (
        SELECT doc_id, token, COUNT(*) AS cnt FROM ({tokens_sql}) GROUP BY doc_id, token
    ),
    hv AS (SELECT doc_id, cnt, {hex_sql("md5(token)")} AS hv FROM tf),
    bits AS (
        SELECT doc_id, b.bit, SUM(cnt * (2 * ((hv >> b.bit) & 1) - 1)) AS s
        FROM hv CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit) b
        GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bits GROUP BY doc_id"""


def _winnow_gram_sql() -> str:
    """Base-128 Horner value of the ``WINNOW_K`` codepoints at ``i``, in
    HUGEINT (a codepoint above ~U+4000 overflows BIGINT), reduced mod
    2^63: the UDF's uint64 wrap followed by its 63-bit mask keeps the
    same residue, and the reduced value keeps the golden-ratio product
    under 2^127."""
    g = "CAST(ord(substr(t, i, 1)) AS HUGEINT)"
    for j in range(1, text.WINNOW_K):
        g = f"({g} * 128 + ord(substr(t, i + {j}, 1)))"
    return f"({g} % 9223372036854775808)"


#: CTEs ``norm``, ``g``, ``fp``: per-doc winnowing fingerprint SETS
#: (doc_id, fps list). Mirrors operators.text.winnow_fingerprints: the
#: ``text.WINNOW_K`` char-grams of the norm_ws text, ``text.WINNOW_W``
#: windows, base-128 Horner gram value scrambled by the odd golden-ratio
#: multiplier mod 2^63 — the identical arithmetic the Arrow UDF runs.
winnow_fps_sql = f"""norm AS (
        SELECT doc_id, {norm_ws_sql} AS t FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(t) >= {text.WINNOW_K}
                    THEN list_transform(generate_series(1, len(t) - {text.WINNOW_K - 1}),
                         i -> CAST(({_winnow_gram_sql()} * 11400714819323198485)
                              % 9223372036854775808 AS BIGINT))
                    ELSE [] END AS hs
        FROM norm
    ),
    fp AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(hs) >= {text.WINNOW_W}
                        THEN list_transform(generate_series(1, len(hs) - {text.WINNOW_W - 1}),
                                            j -> list_min(list_slice(hs, j, j + {text.WINNOW_W - 1})))
                        ELSE [] END) AS fps
        FROM g
    )"""


def bloom_positions_sql(key_sql: str, hexw: int) -> str:
    """List of the ``BLOOM_K`` bit positions of ``key_sql``: disjoint
    ``hexw``-digit slices of its md5, NULLs for a NULL key — mirrors
    operators.sketch.bloom_positions."""
    fp = f"md5({key_sql})"
    return "[" + ", ".join(
        hex_sql(fp, start=hexw * j + 1, width=hexw) for j in range(BLOOM_K)
    ) + "]"


def countmin_sql(counts: str, key: str, cnt: str, width: int) -> str:
    """Query of (<key>, <cnt>, est_count) over the one-row-per-key
    relation ``counts``: the Count-Min estimate at ``CMS_D`` rows x
    ``width`` buckets, a NULL key dropped — mirrors
    operators.sketch.countmin_estimate."""
    bucket = hex_sql(f"md5(CAST(s.seed AS VARCHAR) || '|' || CAST({key} AS VARCHAR))")
    return f"""
        WITH sb AS (
            SELECT {key}, {cnt}, s.seed, {bucket} % {width} AS bucket
            FROM {counts} CROSS JOIN (SELECT unnest(range({CMS_D})) AS seed) s
        ),
        cells AS (SELECT seed, bucket, SUM({cnt}) AS c FROM sb GROUP BY seed, bucket)
        SELECT {key}, {cnt}, CAST(MIN(c) AS BIGINT) AS est_count
        FROM sb JOIN cells USING (seed, bucket)
        GROUP BY {key}, {cnt}"""


def kmv_sql(src: str, group: str, key: str) -> str:
    """Query of (<group>, est) over relation ``src``: the KMV estimate of
    the distinct non-NULL ``key`` values per ``group`` at ``KMV_K`` —
    mirrors operators.sketch.kmv_estimate."""
    return f"""
        SELECT {group},
               CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE ({KMV_K} - 1.0)
                         / (CAST({hex_sql("MAX(hh)", width=12)} AS DOUBLE)
                            / {KMV_SPACE!r})
               END AS est
        FROM (
            SELECT {group}, hh,
                   ROW_NUMBER() OVER (PARTITION BY {group} ORDER BY hh) AS rn
            FROM (SELECT DISTINCT {group}, md5(CAST({key} AS VARCHAR)) AS hh
                  FROM {src} WHERE {key} IS NOT NULL)
        )
        WHERE rn <= {KMV_K} GROUP BY {group}"""


def sign_bands_sql() -> str:
    """``UNION ALL`` of ``(vec_id, band, bsig)`` rows over the caller's
    ``e(vec_id, v)`` — mirrors similarity.random_hyperplane_bands: the
    same md5 hyperplane float literals and band geometry (the
    ``similarity.LSH_*`` constants), so both engines bucket on
    bitwise-identical dot products."""
    W = similarity.hyperplanes()
    bb = similarity.LSH_BAND_BITS

    def bit(j: int) -> str:
        w = "[" + ", ".join(repr(x) for x in W[j]) + "]"
        return f"(CASE WHEN list_dot_product(v, {w}) > 0 THEN 1 ELSE 0 END)"

    band_rows = []
    for b in range(similarity.LSH_BITS // bb):
        sig = "0"
        for i in range(bb):
            sig = f"({sig} * 2 + {bit(b * bb + i)})"
        band_rows.append(f"SELECT vec_id, {b} AS band, {sig} AS bsig FROM e")
    return " UNION ALL ".join(band_rows)
