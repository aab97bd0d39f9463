"""Unit tests for the training-data-pipeline operators on small, known
inputs (the sf-scale equivalence is covered by the DuckDB-oracle gate)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (3, "completely different content about spark engines"),
        (4, "spark engines process completely different content about"),  # perm of 3
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs, "doc_id", "text").collect()
    by_keep = {r.keep_id: r.n_copies for r in groups}
    assert by_keep[0] == 2  # docs 0 and 2 identical, keep min id
    assert len(groups) == 4
    kept = dedup.drop_exact_duplicates(docs, "doc_id", "text")
    assert sorted(r.doc_id for r in kept.collect()) == [0, 1, 3, 4]


def test_exact_dedup_rn_payload_column_survives(spark):
    """A payload column literally named _rn must not be clobbered by the
    keep-first row number."""
    df = spark.createDataFrame(
        [(1, 77, "a"), (2, 99, "a"), (3, 55, "b")],
        "doc_id long, _rn long, text string",
    )
    kept = dedup.drop_exact_duplicates(df, "doc_id", "text")
    assert kept.columns == ["doc_id", "_rn", "text"]
    assert sorted(tuple(r) for r in kept.collect()) == [(1, 77, "a"), (3, 55, "b")]


def test_minhash_finds_near_dups(spark, docs):
    # md5-hashing makes the candidate set deterministic: at the module
    # geometry (8 hashes, 4 bands of 2 rows) the exact dup and the
    # permutation share a band bucket, the dog/cat pair does not
    out = dedup.minhash_near_duplicates(docs, "doc_id", "text")
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert set(pairs) == {(0, 2), (3, 4)}
    assert pairs[(0, 2)] == 1.0  # exact dup
    # doc 4 = permutation of doc 3 + one extra word: 6 of 7
    assert pairs[(3, 4)] == pytest.approx(6 / 7)
    # dog vs cat: word sets share 7 of 9 (exact verify of the pair itself)
    cand = spark.createDataFrame([(0, 1)], "id_a bigint, id_b bigint")
    sets = dedup.shingle_sets(docs, "doc_id", "text")
    (r,) = dedup.verify_jaccard(cand, sets).collect()
    assert (r.id_a, r.id_b) == (0, 1) and r.jaccard == pytest.approx(7 / 9)


def test_verify_candidate_prune_is_not_forced_broadcast(spark, docs):
    """Round-8 advisor finding: the verify's joins must NOT carry a
    forced broadcast hint — the shingle-set side is corpus-sized,
    unbounded at the 100 TB design point, and a hint bypasses
    autoBroadcastJoinThreshold straight into the 8 GB BroadcastExchange
    ceiling. Behavioral pin: with broadcast joins disallowed outright,
    the verify must PLAN (shuffled joins) and still produce the exact
    same verified pairs. A forced F.broadcast would make the hint win
    over the threshold and keep a BroadcastExchange in the plan."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    prev_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        sets = dedup.shingle_sets(docs, "doc_id", "text", n=1)
        pairs = spark.createDataFrame([(0, 2)], "id_a bigint, id_b bigint")
        out = dedup.verify_jaccard(pairs, sets)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
        assert got == {(0, 2): 1.0}
    finally:
        for key, val in (
            ("spark.sql.autoBroadcastJoinThreshold", prev),
            ("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe),
        ):
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_verify_jaccard_survives_empty_and_null_shingle_sets(spark):
    """NULL text and texts shorter than the shingle width have empty
    sets; a candidate pairing two of them has no defined Jaccard. The
    verify at n=3, and the dedup_sorted_neighborhood shape (SNM
    candidates, bigram sets, threshold 0.05), return only the real
    near-dup pair and raise nothing. A verify that divides before
    dropping empty intersections raises DIVIDE_BY_ZERO on this input
    under ANSI."""
    from pyspark.errors import ArithmeticException

    from weather_data_ingestion_gcp_spark.plans.dedup_graph import snm_candidates

    docs = spark.createDataFrame(
        [
            (0, "en", None),
            (1, "en", "tiny text"),
            (2, "en", "x"),
            (3, "en", "the quick brown fox jumps over the lazy dog"),
            (4, "en", "the quick brown fox jumps over the lazy cat"),
        ],
        "doc_id bigint, lang string, text string",
    )
    pairs = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)], "id_a bigint, id_b bigint"
    )
    tri = dedup.shingle_sets(docs, "doc_id", "text", n=3)
    got = {(r.id_a, r.id_b): r.jaccard for r in dedup.verify_jaccard(pairs, tri).collect()}
    assert got == {(3, 4): pytest.approx(6 / 8)}

    cand = snm_candidates(docs)
    bi = dedup.shingle_sets(docs, "doc_id", "text", n=2)
    snm = dedup.verify_jaccard(cand, bi).filter(F.col("jaccard") >= 0.05)
    got = {(r.id_a, r.id_b): r.jaccard for r in snm.collect()}
    assert got == {(3, 4): pytest.approx(7 / 9)}

    naive = (
        pairs.join(tri.toDF("id_a", "s_a"), "id_a")
        .join(tri.toDF("id_b", "s_b"), "id_b")
        .select(
            F.size(F.array_intersect("s_a", "s_b"))
            / F.size(F.array_union("s_a", "s_b"))
        )
    )
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        naive.collect()


def test_shingles_bigram(spark):
    df = spark.createDataFrame([(1, "a b  c")], "doc_id bigint, text string")
    got = {r.shingle for r in dedup.shingles(df, "doc_id", "text", n=2).collect()}
    assert got == {"a b", "b c"}  # double space ignored, adjacency preserved


def test_simhash_identical_for_exact_dups(docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash16(docs, "doc_id", "text").collect()}
    assert sh[0] == sh[2]
    assert sh[3] == sh[4]  # simhash is bag-of-words: permutation-invariant
    assert 0 <= sh[0] < 2**16
    assert sh[0] != sh[3]


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.rand(20, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    out = similarity.brute_force_topk(df, df.filter(F.col("vec_id") < 2), k=3)
    got = {(r.q_id, r.rk): (r.n_id, r.cos_sim) for r in out.collect()}
    v = vecs.astype("float64")
    for q in range(2):
        sims = v @ v[q] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[q]))
        order = sorted((-s, i) for i, s in enumerate(sims) if i != q)[:3]
        for rk, (negs, i) in enumerate(order, start=1):
            n_id, cs = got[(q, rk)]
            assert n_id == i
            assert math.isclose(cs, -negs, rel_tol=1e-9)


def test_dot_pandas_matches_jvm_fold_on_null_empty_and_ragged_rows(spark):
    """One Arrow batch mixing dense, NULL, empty and length-mismatched
    rows: every cell equals the JVM `_dot` fold bit-for-bit — NULL for a
    NULL vector or a ragged pair, 0.0 for two empty vectors — instead of
    the worker crashing on the stack of a ragged batch."""
    rows = [
        (0, [1.0, 2.0, 3.0], [0.5, -1.0, 2.0]),
        (1, None, [1.0, 1.0, 1.0]),
        (2, [1.0, 2.0], [1.0, 2.0, 3.0]),
        (3, [], []),
        (4, [0.1, 0.2], [0.3, 0.4]),
        (5, [1.0, 1.0, 1.0], None),
    ]
    df = spark.createDataFrame(rows, "i int, a array<double>, b array<double>")
    got = df.select(
        "i",
        similarity.dot_pandas(F.col("a"), F.col("b")).alias("arrow"),
        similarity._dot(F.col("a"), F.col("b")).alias("jvm"),
    ).collect()
    assert {r.i: r.arrow for r in got} == {r.i: r.jvm for r in got}
    assert {r.i for r in got if r.arrow is None} == {1, 2, 5}
    assert {r.i: r.arrow for r in got}[3] == 0.0


def test_null_vector_gets_no_bands_and_no_topk_crash(spark):
    """A NULL embedding has no sign signature (no band rows) and no
    cosine (a NULL cell ranked after every number), so the exact top-k
    of the other vectors is unchanged."""
    rng = np.random.RandomState(3)
    vecs = [[float(x) for x in rng.standard_normal(64)] for _ in range(6)]
    rows = [(i, v) for i, v in enumerate(vecs)]
    schema = "vec_id bigint, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + [(6, None)], schema)
    bands = similarity.random_hyperplane_bands(dirty).collect()
    assert {r.vec_id for r in bands} == set(range(6))
    assert sorted(map(tuple, bands)) == sorted(
        map(tuple, similarity.random_hyperplane_bands(clean).collect())
    )

    def top(df):
        q = df.filter(F.col("vec_id") < 2)
        return sorted(map(tuple, similarity.brute_force_topk(df, q, k=3).collect()))

    assert top(dirty) == top(clean)


#: a NULL row (id 0), a ragged row (id 5: length 2 among length-3 rows)
#: and a row with a NULL element (id 6: row 5 with a NULL between)
_HOSTILE = [
    (0, None),
    (1, [1.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0]),
    (3, [0.0, 1.0, 0.0]),
    (4, [0.1, 0.9, 0.0]),
    (5, [1.0, 0.0]),
    (6, [1.0, None, 0.0]),
]


@pytest.mark.parametrize(
    "op",
    [
        "kmeans_assign",
        "mmr_select",
        "block_cosine_pairs",
        "pca_power_iteration",
        "dot_pandas",
        "random_hyperplane_bands",
        "scalar_quantize_stats",
        "semantic_dedup_prune",
    ],
)
def test_hostile_vectors_give_null_cells_no_pairs_or_value_error(spark, tmp_path, op):
    """Every operator that turns an Arrow batch of vectors into a matrix
    survives a NULL, a ragged and a NULL-element row: a NULL cell, no
    pair, or a driver-side ValueError, never a Python-worker crash."""
    df = spark.createDataFrame(_HOSTILE, "vec_id bigint, embedding array<float>")
    if op == "kmeans_assign":
        out = similarity.kmeans_assign(df, k=2, max_iter=3).collect()
        got = {r.vec_id: r.kmeans_cluster for r in out}
        assert got[0] is None and got[5] is None and got[6] is None
        assert got[1] == got[2] != got[3] == got[4]
    elif op == "mmr_select":
        out = similarity.mmr_select(df, [1.0, 0.0, 0.0], k=8).collect()
        assert sorted(r.vec_id for r in out) == [1, 2, 3, 4]
    elif op == "block_cosine_pairs":
        blocked = df.withColumn("blk", F.lit(0))
        out = similarity.block_cosine_pairs(blocked, ["blk"], -1.0).collect()
        # the NULL-element row pairs only with NULL cosines
        assert sorted((r.id_a, r.id_b) for r in out if r.raw is not None) == [
            (a, b) for a in range(1, 5) for b in range(a + 1, 5)
        ]
        assert sorted((r.id_a, r.id_b) for r in out if r.raw is None) == [
            (a, 6) for a in range(1, 5)
        ]
    elif op == "dot_pandas":
        q = F.array(*[F.lit(x) for x in (1.0, 0.5, 0.0)])
        out = df.select(
            "vec_id",
            similarity.dot_pandas(F.col("embedding"), q).alias("arrow"),
            similarity._dot(F.col("embedding"), q).alias("jvm"),
        ).collect()
        assert {r.vec_id: r.arrow for r in out} == {r.vec_id: r.jvm for r in out}
        assert {r.vec_id for r in out if r.arrow is None} == {0, 5, 6}
    elif op == "random_hyperplane_bands":
        v = [float(x) for x in np.random.RandomState(5).standard_normal(64)]
        rows = [(0, None), (1, v), (2, v[:-1]), (3, v[:7] + [None] + v[8:]), (4, [])]
        bands = similarity.random_hyperplane_bands(
            spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        ).collect()
        assert {r.vec_id for r in bands} == {1}
    elif op == "scalar_quantize_stats":
        got = {r.vec_id: tuple(r)[1:] for r in similarity.scalar_quantize_stats(df).collect()}
        assert got[0] == (None, None, None)
        # array_min/array_max and the error skip the NULL element
        assert got[6] == got[5] and None not in got[6]
    elif op == "semantic_dedup_prune":
        emb = spark.createDataFrame(
            [*_HOSTILE, (7, [0.0, 0.0, 0.0])], "vec_id bigint, embedding array<float>"
        )
        one_bucket = emb.select("vec_id", F.lit(0).alias("band"), F.lit(0).alias("bsig"))
        out = similarity.semantic_dedup_prune(emb, one_bucket, max_bucket_size=8, tau=0.9)
        got = {r.vec_id: (r.kept, r.n_near) for r in out.collect()}
        assert got == {
            0: (True, 0), 1: (True, 1), 2: (False, 1), 3: (True, 1),
            4: (False, 1), 5: (True, 0), 6: (True, 0), 7: (True, 0),
        }
    else:
        from weather_data_ingestion_gcp_spark.plans.embeddings import pca_power_iteration

        def pca(rows, name):
            sf = str(tmp_path / name)
            spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").write.parquet(
                f"{sf}/embeddings.parquet"
            )
            return sorted(map(tuple, pca_power_iteration(spark, sf).collect()))

        clean = [(i, [float(i % 7) - 3.0, 0.25, float(i % 3)]) for i in range(1, 30)]
        # a NULL vector and a vector with a NULL element add nothing to the Gram sums
        assert pca([_HOSTILE[0], *clean, _HOSTILE[6]], "with_null") == pca(clean, "clean")
        with pytest.raises(ValueError, match="differ in length"):
            pca([*clean, _HOSTILE[5]], "ragged")


def test_length_groups_reads_offsets_and_validity():
    """`_length_groups` gathers each length group from the flat child at
    the list offsets: a sliced ListArray (offsets not starting at 0), a
    two-chunk ChunkedArray, an empty list and a NULL element as NaN."""
    import pyarrow as pa

    lists = pa.array(
        [[9.0], [1.0, 2.0], None, [3.0, None], [], [4.0, 5.0, 6.0]],
        pa.list_(pa.float32()),
    )
    sliced = lists.slice(1)
    assert sliced.offsets[0].as_py() == 1

    def groups(col):
        return [(i.tolist(), X.tolist()) for i, X in similarity._length_groups(col)]

    want = [
        ([3], [[]]),
        ([0, 2], [[1.0, 2.0], [3.0, math.nan]]),
        ([4], [[4.0, 5.0, 6.0]]),
    ]
    for col in (sliced, pa.chunked_array([lists.slice(1, 2), lists.slice(3)])):
        got = groups(col)
        assert repr(got) == repr(want)
        assert all(X.dtype == np.float64 for _, X in similarity._length_groups(col))
    assert groups(pa.chunked_array([], pa.list_(pa.float64()))) == []
    # two columns: a row is grouped only where both are valid and equal length
    other = pa.array([[1.0, 1.0], [0.0], None, [], [7.0, 7.0, 7.0]], pa.list_(pa.float64()))
    assert [i.tolist() for i, *_ in similarity._length_groups(sliced, other)] == [[3], [0], [4]]


def test_pca_start_vector_orthogonal_to_the_covariance_gives_the_oracle_nulls(spark, tmp_path):
    """The covariance of these four vectors maps the all-1000 start vector
    to zero, so every renormalization divides by a zero max: NULL in both
    engines, never an ANSI DIVIDE_BY_ZERO."""
    import duckdb

    from weather_data_ingestion_gcp_spark.plans import ORACLE
    from weather_data_ingestion_gcp_spark.plans.embeddings import pca_power_iteration

    sf = str(tmp_path)
    spark.createDataFrame(_HOSTILE[1:5], "vec_id bigint, embedding array<float>").write.parquet(
        f"{sf}/embeddings.parquet"
    )
    got = sorted(map(tuple, pca_power_iteration(spark, sf).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet/*.parquet'")
    assert got == sorted(con.execute(ORACLE["pca_power_iteration"]).fetchall()), got


def test_ivf_probes_subset_and_finds_in_cluster_neighbors(spark):
    # two well-separated clusters: IVF with nprobe=1 must stay in-cluster
    rows = []
    for i in range(10):
        rows.append((i, [10.0 + i * 0.01, 0.0, 1.0], 0))
    for i in range(10, 20):
        rows.append((i, [0.0, 10.0 + i * 0.01, 1.0], 1))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = similarity.ivf_topk(df, df.filter(F.col("vec_id") == 0), k=3, nprobe=1)
    neighbors = [r.n_id for r in out.collect()]
    assert len(neighbors) == 3 and all(n < 10 for n in neighbors)


def test_langid_and_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is in the house and it is warm"),
            (1, "el gato es de la casa y que bien"),
            (2, "xxxxx yyyyy zzzzz"),
        ],
        "doc_id bigint, text string",
    )
    lid = {r.doc_id: r for r in text.langid_scores(df).collect()}
    assert lid[0].pred_lang == "en" and lid[0].score_en > 0.4
    assert lid[1].pred_lang == "es"
    assert lid[2].score_en == 0.0

    q = {r.doc_id: r for r in text.quality_features(df).collect()}
    assert q[0].quality_score > q[2].quality_score
    assert q[0].n_words == 10

    t = {r.doc_id: r for r in text.token_counts(df).collect()}
    assert t[0].ws_tokens == 10
    df2 = spark.createDataFrame([(9, "ab1 c-d, e2f!")], "doc_id bigint, text string")
    t2 = text.token_counts(df2).collect()[0]
    assert t2.ws_tokens == 3
    # ab,1 | c,-,d,"," | e,2,f,! -> 10 regex tokens
    assert t2.re_tokens == 10


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "hello worlds")],
        "doc_id bigint, text string",
    )
    fp = {r.doc_id: r.fp for r in text.fingerprint(df).collect()}
    assert fp[0] == fp[1] != fp[2]


def test_multimodal_decode_fake_and_stub(spark):
    df = spark.createDataFrame([(0, "abcd"), (1, "x" * 700)], "doc_id bigint, text string")
    media = multimodal.with_binary_payload(df, "text", "doc_id")
    meta = {r.doc_id: r for r in multimodal.decode_metadata(media, fake=True).collect()}
    assert meta[0].byte_len == 4 and meta[0].width == 5 and meta[0].channels == 3
    assert meta[1].width == 700 % 640 + 1
    # utf-8 text bytes are not a valid image container -> per-row ValueError
    with pytest.raises(Exception, match="ValueError|unsupported or corrupt"):
        multimodal.decode_metadata(media, fake=False).collect()

    frames = multimodal.frame_sample_plan(media.withColumn("byte_len", F.octet_length("payload")), every_n_bytes=100)
    per_doc = {r[0]: r[1] for r in frames.groupBy("doc_id").count().collect()}
    assert per_doc[0] == 1 and per_doc[1] == 7


def _png_bytes(w: int, h: int, color_type: int = 6) -> bytes:
    import struct as st

    ihdr = st.pack(">II", w, h) + bytes([8, color_type, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + st.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"  # CRC not checked by the header parser
    )


def _jpeg_bytes(w: int, h: int, channels: int = 3) -> bytes:
    import struct as st

    app0 = b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + st.pack(">H", 8 + 3 * channels)
        + bytes([8])
        + st.pack(">HH", h, w)
        + bytes([channels])
        + b"\x01\x11\x00" * channels
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _gif_bytes(w: int, h: int) -> bytes:
    import struct as st

    return b"GIF89a" + st.pack("<HH", w, h) + b"\x00\x00\x00"


def _bmp_bytes(w: int, h: int, bpp: int = 24) -> bytes:
    import struct as st

    header = b"BM" + st.pack("<IHHI", 54, 0, 0, 54)
    dib = st.pack("<I", 40) + st.pack("<ii", w, -h) + st.pack("<HH", 1, bpp)
    return header + dib + b"\x00" * 16


def test_multimodal_decode_real_image_headers(spark):
    """fake=False on genuine container bytes: the pure-bytes header parser
    reads dimensions/channels/format from real PNG/JPEG/GIF/BMP headers —
    no image library needed, full mapInArrow path exercised."""
    payloads = [
        (0, bytearray(_png_bytes(640, 480, color_type=6))),
        (1, bytearray(_jpeg_bytes(1024, 768, channels=3))),
        (2, bytearray(_gif_bytes(320, 200))),
        (3, bytearray(_bmp_bytes(800, 600, bpp=24))),
        (4, bytearray(_png_bytes(12, 34, color_type=0))),  # grayscale
        (5, bytearray(_jpeg_bytes(50, 60, channels=1))),  # grayscale JPEG
    ]
    media = spark.createDataFrame(payloads, "doc_id bigint, payload binary")
    meta = {r.doc_id: r for r in multimodal.decode_metadata(media, fake=False).collect()}
    assert (meta[0].width, meta[0].height, meta[0].channels, meta[0].format) == (
        640, 480, 4, "png",
    )
    assert (meta[1].width, meta[1].height, meta[1].channels, meta[1].format) == (
        1024, 768, 3, "jpeg",
    )
    assert (meta[2].width, meta[2].height, meta[2].channels, meta[2].format) == (
        320, 200, 3, "gif",
    )
    assert (meta[3].width, meta[3].height, meta[3].channels, meta[3].format) == (
        800, 600, 3, "bmp",
    )
    assert (meta[4].width, meta[4].height, meta[4].channels) == (12, 34, 1)
    assert (meta[5].width, meta[5].height, meta[5].channels) == (50, 60, 1)
    assert meta[0].byte_len == len(_png_bytes(640, 480))


def test_multimodal_header_parser_pure():
    """Driver-side spot checks of the parser itself (no Spark)."""
    from weather_data_ingestion_gcp_spark.operators.multimodal import _parse_image_header

    assert _parse_image_header(_png_bytes(1, 1, 2)) == (1, 1, 3, "png")
    assert _parse_image_header(_jpeg_bytes(7, 9)) == (7, 9, 3, "jpeg")
    assert _parse_image_header(_bmp_bytes(4, 5, bpp=8)) == (4, 5, 1, "bmp")
    with pytest.raises(ValueError):
        _parse_image_header(b"not an image at all........................")
    with pytest.raises(ValueError):
        _parse_image_header(b"\xff\xd8\xff\xe0\x00\x04\x00\x00\xff\xd9")  # no SOF

    # 0xFF fill/padding bytes before a marker are legal (ITU T.81 B.1.1.2);
    # the walk must skip them, not read a length from the real marker byte
    padded = _jpeg_bytes(7, 9)
    sof_at = padded.index(b"\xff\xc0")
    padded = padded[:sof_at] + b"\xff\xff\xff" + padded[sof_at:]
    assert _parse_image_header(padded) == (7, 9, 3, "jpeg")
    # EOI terminates the walk even when followed by trailing garbage
    with pytest.raises(ValueError):
        _parse_image_header(
            b"\xff\xd8\xff\xd9" + b"\xff\xc0\x00\x0b\x08\x00\x09\x00\x07\x03"
        )


def test_multimodal_udf_payload_is_self_contained(tmp_path):
    """The mapInArrow helpers must pickle BY VALUE: a Python worker whose
    sys.path lacks this repo (an executor the package was never shipped
    to; observed with a driver launched from another cwd) otherwise dies
    with ModuleNotFoundError on the first decode task. Proof: unpickle
    and CALL the helper in a subprocess that cannot import the package."""
    import subprocess
    import sys as _sys

    from pyspark import cloudpickle

    from weather_data_ingestion_gcp_spark.operators.multimodal import (
        _decode_image_bytes,
    )

    blob = tmp_path / "helper.pkl"
    blob.write_bytes(cloudpickle.dumps(_decode_image_bytes))
    png = tmp_path / "img.png"
    png.write_bytes(_png_bytes(3, 2, 6))
    probe = (
        "import pickle, sys\n"
        "sys.modules['weather_data_ingestion_gcp_spark'] = None\n"  # poison
        f"fn = pickle.loads(open({str(blob)!r}, 'rb').read())\n"
        f"print(fn(open({str(png)!r}, 'rb').read(), False))\n"
    )
    env = {"PATH": "/usr/bin:/bin"}
    out = subprocess.run(
        [_sys.executable, "-c", probe],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "(3, 2, 4, 'png')"


def test_similarity_numpy_kernels_pickle_by_value(tmp_path):
    """The fold, the length grouping and the tile scan run inside Arrow
    UDF closures, so they must unpickle and run where the package cannot
    be imported."""
    import subprocess
    import sys as _sys

    from pyspark import cloudpickle

    blob = tmp_path / "kernels.pkl"
    blob.write_bytes(
        cloudpickle.dumps(
            (similarity._fold, similarity._length_groups, similarity._cosine_tiles)
        )
    )
    probe = (
        "import pickle, sys\n"
        "import pyarrow as pa\n"
        "sys.modules['weather_data_ingestion_gcp_spark'] = None\n"  # poison
        f"fold, groups, tiles = pickle.loads(open({str(blob)!r}, 'rb').read())\n"
        "col = pa.array([[3.0, 4.0], None], pa.list_(pa.float64()))\n"
        "print([(list(i), fold(X, X).tolist(), [c.tolist() for _, _, c in tiles(X, X)])"
        " for i, X in groups(col)])\n"
    )
    out = subprocess.run(
        [_sys.executable, "-c", probe],
        capture_output=True, text=True, cwd=str(tmp_path), env={"PATH": "/usr/bin:/bin"},
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[([0], [25.0], [[[1.0]]])]"


def test_pickle_by_value_registry_is_bounded():
    """cloudpickle's by-value registration is process-global state: every
    dump that references anything from a registered module inlines it.
    Only the tiny pure-parser module may be registered — never the full
    multimodal module (whose namespace imports pandas/pyspark), and never
    anything else from the package (a test module registering itself,
    tests/test_bigquery_binding.py, is test-process-local and fine)."""
    from pyspark import cloudpickle

    registered = {
        m if isinstance(m, str) else m.__name__
        for m in cloudpickle.list_registry_pickle_by_value()
    }
    pkg_registered = {
        n for n in registered if n.startswith("weather_data_ingestion_gcp_spark")
    }
    assert pkg_registered == {
        "weather_data_ingestion_gcp_spark.operators._mm_parsers"
    }


def test_scalar_function_helpers(spark):
    from weather_data_ingestion_gcp_spark.functions import (
        filename_cleanup,
        path_stem,
        stable_uuid,
    )

    df = spark.createDataFrame(
        [("hourly-weather-data-json-20220703-14:00:05.json", "a/b/c.txt")],
        "fn string, p string",
    )
    r = df.select(
        filename_cleanup(F.col("fn")).alias("c"),
        path_stem(F.col("p")).alias("s"),
        stable_uuid(F.col("fn")).alias("u"),
    ).collect()[0]
    assert r.c == "hourly-weather-data.json"
    assert r.s == "c"
    assert len(r.u) == 36 and r.u.count("-") == 4


def test_approx_distinct_within_tolerance(spark):
    """approx_count_distinct (HLL++) vs exact, on real testdata. The
    registered query emits the accuracy CONTRACT (exact count + verdict
    flag the oracle pins TRUE); this asserts both the flag and the raw
    estimate's tolerance directly."""
    from weather_data_ingestion_gcp_spark.plans import QUERIES, load_table

    rows = QUERIES["approx_distinct_users"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    assert all(r.within_tolerance for r in rows)
    e = load_table(spark, "/root/testdata/sf0.001", "events")
    raw = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    ).collect()
    for r in raw:
        assert abs(r.approx_users - r.exact_users) <= max(3, 0.05 * r.exact_users)


def test_salted_join_equals_plain_join(spark):
    from weather_data_ingestion_gcp_spark.operators.skew import salted_join

    # 90% of fact rows share one hot key
    fact = spark.createDataFrame(
        [(1 if i % 10 else i, float(i)) for i in range(1000)], "k bigint, v double"
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(0, 1000, 7)], "k bigint, name string")
    plain = fact.join(dim, "k").select("k", "v", "name")
    salted = salted_join(fact, dim, "k").select("k", "v", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # left join keeps unmatched fact rows exactly once
    plain_l = fact.join(dim, "k", "left").select("k", "v", "name")
    salted_l = salted_join(fact, dim, "k", how="left").select("k", "v", "name")
    assert sorted(map(tuple, salted_l.collect()), key=str) == sorted(
        map(tuple, plain_l.collect()), key=str
    )


def test_kmeans_assign_separates_clear_clusters(spark):
    from weather_data_ingestion_gcp_spark.operators.similarity import kmeans_assign

    rows = []
    for i in range(12):  # two orthogonal bundles
        rows.append((i, [10.0 + (i % 3), 0.1, 0.0]))
    for i in range(12, 24):
        rows.append((i, [0.1, 10.0 + (i % 3), 0.0]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = kmeans_assign(df, k=2, max_iter=4)
    got = {r.vec_id: r.kmeans_cluster for r in out.collect()}
    first = {got[i] for i in range(12)}
    second = {got[i] for i in range(12, 24)}
    assert len(first) == 1 and len(second) == 1 and first != second
    # deterministic: same input -> same assignment
    again = {r.vec_id: r.kmeans_cluster for r in kmeans_assign(df, k=2, max_iter=4).collect()}
    assert again == got


def test_scrub_pii_replaces_and_counts(spark):
    from weather_data_ingestion_gcp_spark.operators.text import scrub_pii

    rows = [
        (0, "mail me at a.b+c@site.org today"),
        (1, "ssn 123-45-6789 phone 555-123-4567"),
        (2, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert out[0].scrubbed == "mail me at <EMAIL> today"
    assert out[0].n_pii == 1
    assert out[1].scrubbed == "ssn <SSN> phone <PHONE>"
    assert out[1].n_pii == 2
    assert out[2].scrubbed == "nothing sensitive here" and out[2].n_pii == 0


def test_normalize_and_bigrams(spark):
    from weather_data_ingestion_gcp_spark.operators.text import (
        bigrams,
        normalize_text,
        words,
    )

    df = spark.createDataFrame(
        [(0, "  Hello,   WORLD! 42 "), (1, "one"), (2, "")],
        "doc_id bigint, text string",
    )
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            normalize_text(F.col("text")).alias("norm"),
            bigrams(words(F.col("text"))).alias("bg"),
        ).collect()
    }
    assert rows[0].norm == "hello world 42"
    assert rows[0].bg == ["hello, world!", "world! 42"]
    assert rows[1].bg == [] and rows[2].bg == []


def test_hash_sampling_deterministic_and_partition_invariant(spark):
    from weather_data_ingestion_gcp_spark.operators import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = sorted(r.k for r in sampling.bernoulli_hash_sample(df, "k", 10).collect())
    b = sorted(
        r.k
        for r in sampling.bernoulli_hash_sample(df.repartition(13), "k", 10).collect()
    )
    assert a == b  # partition layout cannot change the sample
    assert 100 < len(a) < 300  # ~10% of 2000

    # split: total partition, disjoint, deterministic
    s = sampling.train_test_split(df, "k", test_pct=10, holdout_pct=5)
    counts = {r.split: r.n for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert set(counts) == {"train", "test", "holdout"}

    # quota: never more than N per stratum
    strat = df.withColumn("g", (F.col("k") % 7).cast("string"))
    q = sampling.stratified_quota(strat, "g", "k", quota=5)
    per = {r.g: r.n for r in q.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert all(v == 5 for v in per.values()) and len(per) == 7


def test_kmv_estimate_close_to_exact(spark):
    """KMV with k=64 has rsd ~ 1/sqrt(k-2) ~ 13%; assert the estimate is
    within 3 sigma of the exact per-group distinct count."""
    from weather_data_ingestion_gcp_spark.plans import QUERIES
    from weather_data_ingestion_gcp_spark.plans.registry import load_table

    sf = "/root/testdata/sf0.001"
    est = {
        r.event_type: r.est_users
        for r in QUERIES["approx_distinct_kmv"](spark, sf).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for et, n in exact.items():
        assert abs(est[et] - n) <= max(0.4 * n, 3), (et, est[et], n)


def test_rp_lsh_collides_near_identical_and_separates_clusters(spark):
    # two well-separated clusters: near-identical vectors agree on every
    # hyperplane sign, so they collide in all bands; cross-cluster top-1
    # would be a miss
    rows = []
    for i in range(10):
        rows.append((i, [10.0 + i * 0.01, 0.0, 1.0] + [0.0] * 61))
    for i in range(10, 20):
        rows.append((i, [0.0, 10.0 + i * 0.01, 1.0] + [0.0] * 61))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = similarity.rp_lsh_topk(
        df, df.filter(F.col("vec_id") == 0),
        similarity.random_hyperplane_bands(df), k=3,
    )
    neighbors = [r.n_id for r in out.collect()]
    assert len(neighbors) >= 1 and all(n < 10 for n in neighbors)


def test_hyperplanes_deterministic_and_bounded(spark):
    W1 = similarity.hyperplanes()
    W2 = similarity.hyperplanes()
    assert W1 == W2
    assert len(W1) == similarity.LSH_BITS
    assert all(len(w) == similarity.LSH_DIM for w in W1)
    assert all(-1.0 <= x <= 1.0 for w in W1 for x in w)


def test_simhash_hamming_pairs_finds_exact_and_respects_threshold(docs):
    out = dedup.simhash_hamming_pairs(
        docs, "doc_id", "text", band_bits=8, max_hamming=3, max_bucket_size=None
    ).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in out}
    # exact duplicates share the signature -> hamming 0
    assert pairs[(0, 2)] == 0
    # token-permutation has identical term frequencies -> same simhash
    assert pairs[(3, 4)] == 0
    assert all(h <= 3 for h in pairs.values())


def test_inverted_index_postings_sorted_and_capped(spark):
    rows = [(i, "alpha beta gamma") for i in range(15)] + [(99, "delta epsilon")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.term: r for r in text.inverted_index(df).collect()}
    assert out["alpha beta"].df_count == 15
    assert out["alpha beta"].postings == list(range(10))  # sorted, capped
    assert "delta epsilon" not in out  # below min_df


def test_bm25_ranks_higher_tf_first(spark):
    rows = [
        (1, "spark spark spark filler filler filler"),
        (2, "spark filler filler filler filler filler"),
        (3, "filler filler filler filler filler filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = text.bm25_topk(df, ["spark"], k=5).collect()
    ranked = [r.doc_id for r in out]
    assert ranked == [1, 2]  # doc 3 has no query term -> no row
    assert out[0].score > out[1].score > 0


def test_char_pair_counts_known_counts(spark):
    df = spark.createDataFrame([(1, "abab ab x")], "doc_id bigint, text string")
    # 'abab' -> ab, ba, ab ; 'ab' -> ab ; 'x' dropped (len<2)
    got = {r.pair: r.n for r in text.char_pair_counts(df).collect()}
    assert got == {"ab": 3, "ba": 1}


def test_weighted_sample_prefers_heavy_rows(spark):
    from weather_data_ingestion_gcp_spark.operators.sampling import weighted_sample_topk

    rows = [(i, 1000000 if i < 10 else 1) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    out = weighted_sample_topk(df, "doc_id", "w", k=10).collect()
    got = {r.doc_id for r in out}
    # u^(1/1e6) ~ 1 for the heavy rows; u^(1/1) = u ~ U(0,1) for the rest:
    # all 10 heavy rows should dominate the top-10 with near-certainty
    assert got == set(range(10))
    # deterministic: same input -> same sample
    again = {r.doc_id for r in weighted_sample_topk(df, "doc_id", "w", k=10).collect()}
    assert again == got


def test_dataset_mix_nested_and_default_drop(spark):
    from weather_data_ingestion_gcp_spark.operators.sampling import dataset_mix

    rows = [(i, ["en", "zh", "xx"][i % 3]) for i in range(900)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    lo = {r.doc_id for r in dataset_mix(df, "lang", "doc_id", {"en": 30, "zh": 10}).collect()}
    hi = {r.doc_id for r in dataset_mix(df, "lang", "doc_id", {"en": 60, "zh": 40}).collect()}
    assert lo and lo <= hi  # nested samples: raising rates only adds rows
    assert not {i for i in lo | hi if i % 3 == 2}  # unlisted group dropped
    langs = {r.lang for r in dataset_mix(df, "lang", "doc_id", {"en": 100}).collect()}
    assert langs == {"en"}


def test_bloom_membership_no_false_negatives(spark):
    from weather_data_ingestion_gcp_spark.operators import sketch

    train = spark.createDataFrame(
        [(i, f"document body number {i}") for i in range(200)], "doc_id bigint, text string"
    )
    # probes 0-9 duplicate train texts exactly; 1000-1009 are unseen
    probe = spark.createDataFrame(
        [(i, f"document body number {i}") for i in range(10)]
        + [(i, f"never seen before {i}") for i in range(1000, 1010)],
        "doc_id bigint, text string",
    )
    words = sketch.bloom_bitset_words(train, "text", 4)
    got = {
        r.doc_id: int(r.n_hits == sketch.BLOOM_K)
        for r in sketch.bloom_hits(probe, "text", words, 4).collect()
    }
    assert all(got[i] == 1 for i in range(10))  # exact dups always flagged
    # unseen probes are overwhelmingly rejected (fp rate ~ (1-e^-kn/m)^k ~ 1e-4)
    assert sum(got[i] for i in range(1000, 1010)) <= 1


def test_winnow_guarantees_shared_substring_fingerprint(spark):
    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "other start " + shared + " different end"),
        (3, "entirely unrelated content with zero overlap at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    by_doc = {r.doc_id: set(r.fps) for r in text.winnow_fingerprints(df).collect()}
    # winnowing guarantee: shared substring >= k+w-1 chars -> common fp
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])


def test_winnow_null_and_short_texts_get_no_fingerprints(spark):
    """A NULL text and one shorter than a full window of grams each get an
    empty fingerprint array, never a Python-worker crash."""
    rows = [(1, None), (2, "short"), (3, "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.fps for r in text.winnow_fingerprints(df).collect()}
    assert got[1] == [] and got[2] == [] and len(got[3]) > 0


def test_grouped_zscore_keeps_int_key_and_id_types(spark):
    """The group and id columns come back in their input types (an int
    group key once crashed the Python worker against a hard-coded
    ``string``); a NULL value gets a NULL z-score and adds nothing to its
    group's moments, and a group without a sample stddev gets 0.0."""
    from weather_data_ingestion_gcp_spark.operators.grouped import grouped_zscore

    df = spark.createDataFrame(
        [(1, 10, 1.0), (1, 11, 3.0), (1, 15, None), (2, 12, 5.0), (2, 13, None), (3, 14, 2.0)],
        "g int, row_id int, value double",
    )
    out = grouped_zscore(df, "g", "row_id", "value")
    assert out.dtypes == [("g", "int"), ("row_id", "int"), ("zscore", "double")]
    got = {r.row_id: (r.g, r.zscore) for r in out.collect()}
    assert got == {
        10: (1, -0.707107), 11: (1, 0.707107), 15: (1, None),
        12: (2, 0.0), 13: (2, None), 14: (3, 0.0),
    }


def test_winnow_matches_duckdb_oracle_on_nbsp(spark):
    """U+00A0 is not whitespace to Java's or RE2's ``\\s``: the UDF
    hashes the engine-normalized text (it used to fold NBSP itself with
    Python's ``str.split``), so both engines fingerprint it alike."""
    import duckdb

    from weather_data_ingestion_gcp_spark.plans.oracle_sql import winnow_fps_sql

    rows = [
        (1, "Alpha\u00a0beta  gamma\tdelta epsilon zeta"),
        (2, "\u00a0 leading nbsp and   runs of   spaces \u00a0"),
        (3, "x\u00a0\u00a0y z"),
        (4, "plain ascii text with no special spaces"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: sorted(r.fps) for r in text.winnow_fingerprints(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        i: sorted(fps)
        for i, fps in con.execute(f"WITH {winnow_fps_sql} SELECT doc_id, fps FROM fp").fetchall()
    }
    assert got == want
    assert all(got[i] for i in (1, 2, 4))


def test_winnow_matches_duckdb_oracle_on_cjk(spark):
    """Gram values of codepoints above ~U+4000 exceed 63 bits: the UDF's
    uint64 Horner wraps, and the oracle keeps the same residue mod 2^63
    in HUGEINT, so both engines fingerprint CJK text alike."""
    import duckdb

    from weather_data_ingestion_gcp_spark.plans.oracle_sql import winnow_fps_sql

    rows = [
        (1, "日本語の文章を使ったテストです"),
        (2, "中文文本 混合 latin 龍龘龍龘龍龘龍龘"),
        (3, "😀😁😂😃😄😅😆😇😈😉😊"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: sorted(r.fps) for r in text.winnow_fingerprints(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        i: sorted(fps)
        for i, fps in con.execute(f"WITH {winnow_fps_sql} SELECT doc_id, fps FROM fp").fetchall()
    }
    assert got == want
    assert all(got[i] for i in (1, 2, 3))


def test_resize_payloads_truncates_and_pads(spark):
    rows = [(1, b"x" * 10), (2, b"y" * 5000)]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r.doc_id: r for r in multimodal.resize_payloads(df, 8, 8).collect()}
    assert len(out[1].payload) == 64 and out[1].payload[:10] == b"x" * 10
    assert len(out[2].payload) == 64 and bytes(out[2].payload) == b"y" * 64
    assert (out[1].width, out[1].height) == (8, 8)


def test_extract_features_known_values(spark):
    # 16 bytes of value 10 -> every component mean is 10; empty -> zeros
    rows = [(1, bytes([10] * 16)), (2, b"")]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r.doc_id: r.feature for r in multimodal.extract_features(df, dim=8).collect()}
    assert out[1] == [10.0] * 8
    assert out[2] == [0.0] * 8


@pytest.mark.parametrize(
    "site", ["decode_metadata", "resize_payloads", "extract_features"]
)
def test_null_payload_keeps_its_row_with_null_cells(spark, site):
    """A NULL payload keeps its row: the payload-derived cells are NULL
    (no ``len(None)`` / ``bytes(None)`` in the Python worker), and
    ``doc_id`` keeps its input type (here a string)."""
    df = spark.createDataFrame(
        [("a", bytes([10] * 16)), ("b", None)], "doc_id string, payload binary"
    )
    op = {
        "decode_metadata": lambda m: multimodal.decode_metadata(m, fake=True),
        "resize_payloads": lambda m: multimodal.resize_payloads(m, 4, 4),
        "extract_features": lambda m: multimodal.extract_features(m, dim=8),
    }[site]
    out = op(df)
    rows = {r.doc_id: r.asDict() for r in out.collect()}
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    assert set(rows) == {"a", "b"}
    want_a, want_b = {
        "decode_metadata": (
            dict(byte_len=16, width=17, height=113, channels=3, format="fake-rgb"),
            dict(byte_len=None, width=None, height=None, channels=None, format=None),
        ),
        "resize_payloads": (
            dict(width=4, height=4, payload=bytearray([10] * 16)),
            dict(width=4, height=4, payload=None),
        ),
        "extract_features": (dict(feature=[10.0] * 8), dict(feature=None)),
    }[site]
    assert {k: rows["a"][k] for k in want_a} == want_a
    assert {k: rows["b"][k] for k in want_b} == want_b


@pytest.mark.parametrize("site", ["audio_metadata", "patch_stats", "frame_energy"])
def test_null_payload_never_reaches_the_payload_analytics(spark, site):
    """A NULL payload neither crashes the Python worker (no
    ``bytes(None)``) nor changes ``doc_id``'s type (here a string):
    audio_metadata keeps the row with NULL cells, patch_stats and
    frame_energy emit no row for it, as for an empty payload."""
    df = spark.createDataFrame(
        [("a", multimodal.make_wav_payload(1)), ("b", None)],
        "doc_id string, payload binary",
    )
    out = getattr(multimodal, site)(df)
    rows = {r.doc_id: r.asDict() for r in out.collect()}
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    if site == "audio_metadata":
        assert set(rows) == {"a", "b"} and rows["a"]["format"] == "wav"
        assert {k for k, v in rows["b"].items() if v is not None} == {"doc_id"}
    else:
        assert set(rows) == {"a"}


def test_ngram_exact_overlap_counts_and_df_cap(spark):
    rows = [
        (0, "a b c d e f"),       # probe
        (1, "a b c d e g"),       # corpus: shares grams "a b c" "b c d" with 0? n=3
        (2, "a b c x y z"),       # corpus: shares "a b c"
        (3, "q r s t u v"),       # corpus: no overlap
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = dedup.shingles(d, "doc_id", "text", n=3)
    probe = sh.filter(F.col("doc_id") == 0)
    corpus = sh.filter(F.col("doc_id") > 0)
    out = dedup.ngram_exact_overlap(probe, corpus, min_shared=2, max_gram_df=None)
    got = {(r.probe_id, r.corpus_id): r.shared_grams for r in out.collect()}
    # doc1 shares "a b c", "b c d", "c d e" -> 3; doc2 shares only "a b c" (<2)
    assert got == {(0, 1): 3}
    # df cap of 1 drops "a b c" (in 2 corpus docs) -> doc1 still has 2 left
    capped = dedup.ngram_exact_overlap(probe, corpus, min_shared=2, max_gram_df=1)
    got_capped = {(r.probe_id, r.corpus_id): r.shared_grams for r in capped.collect()}
    assert got_capped == {(0, 1): 2}


def test_repeated_spans_maximal_and_aligned(spark):
    """Span semantics: a shared L-token substring must come back as ONE
    span of token_len L at the right positions in both docs; two shared
    substrings at different alignments stay separate spans; a match that
    is long in one doc but split in the other does not merge."""
    shared = " ".join(f"s{i}" for i in range(10))  # 10-token substring
    rows = [
        (0, "x1 x2 " + shared + " x3 x4"),       # span at pos 3..12
        (1, shared + " y1 y2 y3"),               # span at pos 1..10
        # doc 2 contains the substring TWICE -> two diagonals vs doc 1
        (2, shared + " z1 z2 " + shared),
        (3, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),   # no overlap
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    g = dedup.positioned_shingles(d, "doc_id", "text", n=4)
    out = dedup.repeated_spans(g, n=4, min_tokens=10, max_gram_occ=20)
    got = {
        (r.id_a, r.id_b): sorted(
            (q.start_a, q.start_b, q.token_len)
            for q in out.collect()
            if (q.id_a, q.id_b) == (r.id_a, r.id_b)
        )
        for r in out.collect()
    }
    # 0-1: one maximal 10-token span, starts 3 (doc0) / 1 (doc1)
    assert got[(0, 1)] == [(3, 1, 10)]
    # 1-2: the substring appears twice in doc 2 -> two 10-token spans on
    # two diagonals (starts 1 and 13 in doc 2), never merged
    assert got[(1, 2)] == [(1, 1, 10), (1, 13, 10)]
    # 0-2: same two alignments from doc 0's single copy
    assert got[(0, 2)] == [(3, 1, 10), (3, 13, 10)]
    assert not any(3 in pair for pair in got)


def test_repeated_spans_occurrence_cap_drops_boilerplate(spark):
    """The stop-gram guard counts OCCURRENCES corpus-wide: a gram pasted
    everywhere (boilerplate) is dropped before the self-join, so no
    span made only of over-cap grams survives."""
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    rows = [(i, boiler) for i in range(6)]  # every gram occurs 6x
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    g = dedup.positioned_shingles(d, "doc_id", "text", n=4)
    assert dedup.repeated_spans(g, n=4, min_tokens=10, max_gram_occ=5).count() == 0
    # raising the cap above the occurrence count restores the spans
    out = dedup.repeated_spans(g, n=4, min_tokens=10, max_gram_occ=6)
    assert out.count() == 15  # C(6,2) pairs, one full-doc span each
    assert {r.token_len for r in out.collect()} == {10}


def _zipf_corpus(n_docs=240, vocab=3000, seed=11):
    """Realistic-vocabulary fixture (the r9 parked-item prerequisite):
    Zipf-distributed words over a vocabulary large enough that most
    word-3-gram shingles are DOCUMENT-UNIQUE — the opposite regime from
    the 31-word generator corpus where nearly every shingle repeats.
    ~8% of docs are near-copies (one word edited) so the LSH pipeline
    has real positives to find."""
    import random

    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    weights = [1.0 / (i + 1) for i in range(vocab)]
    docs = []
    for i in range(n_docs):
        if i % 12 == 5 and docs:  # near-copy of the previous doc
            base = docs[-1][1].split()
            base[rng.randrange(len(base))] = rng.choices(words, weights)[0]
            docs.append((i, " ".join(base)))
        else:
            n = rng.randrange(30, 80)
            docs.append((i, " ".join(rng.choices(words, weights, k=n))))
    return docs


def test_verify_matches_minhash_near_duplicates_on_zipf_corpus(spark):
    """The full minhash_near_duplicates pipeline over a
    realistic-vocabulary corpus (most shingles document-unique — a
    31-word-vocabulary corpus keeps ~every shingle and proves little)
    equals a pure-Python set Jaccard over its own LSH candidates, kept
    at the threshold."""
    corpus = _zipf_corpus()
    d = spark.createDataFrame(corpus, "doc_id bigint, text string")
    sh = dedup.shingles(d, "doc_id", "text", n=3)
    wide = dedup.minhash_wide_signatures(sh)
    pairs = dedup.lsh_candidate_pairs(dedup.lsh_band_keys(wide)).collect()
    assert pairs  # the fixture's near-copies produce real candidates
    sets = {}
    for i, t in corpus:
        w = t.lower().split(" ")
        sets[i] = {" ".join(w[j : j + 3]) for j in range(len(w) - 2)}
    expect = []
    for r in pairs:
        a, b = sets[r.id_a], sets[r.id_b]
        if a & b:
            jac = len(a & b) / len(a | b)
            if jac >= dedup.JACCARD_FLOOR:
                expect.append((r.id_a, r.id_b, round(jac, 9)))
    assert expect
    full = dedup.minhash_near_duplicates(d, "doc_id", "text", shingle_n=3)
    got = sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in full.collect())
    assert got == sorted(expect)


def test_cross_repeated_spans_provenance(spark):
    """Cross-set spans: a probe doc sharing an L-token run with a corpus
    doc reports one span with both start positions; matches WITHIN one
    side never pair; the >= 2 occurrence floor must NOT apply (one
    occurrence per side is a legitimate leak); the corpus-side cap
    drops boilerplate."""
    shared = " ".join(f"s{i}" for i in range(10))
    probe = spark.createDataFrame(
        [(0, "p1 p2 " + shared)], "doc_id bigint, text string"
    )
    corpus_rows = [(10, shared + " c1 c2"), (11, "c3 c4 c5 c6 c7 c8 c9 c10")]
    corpus = spark.createDataFrame(corpus_rows, "doc_id bigint, text string")
    pg = dedup.positioned_shingles(probe, "doc_id", "text", n=4)
    cg = dedup.positioned_shingles(corpus, "doc_id", "text", n=4)
    got = [
        (r.probe_id, r.corpus_id, r.start_probe, r.start_corpus, r.token_len)
        for r in dedup.cross_repeated_spans(
            pg, cg, n=4, min_tokens=10, max_corpus_occ=20
        ).collect()
    ]
    # each shared gram occurs ONCE per side -> still matches (no 2-floor)
    assert got == [(0, 10, 3, 1, 10)]
    # boilerplate cap: replicate the corpus doc 6x -> every gram occurs
    # 6x corpus-side, over a cap of 5 -> no spans survive
    many = spark.createDataFrame(
        [(10 + i, shared) for i in range(6)], "doc_id bigint, text string"
    )
    cg6 = dedup.positioned_shingles(many, "doc_id", "text", n=4)
    assert dedup.cross_repeated_spans(
        pg, cg6, n=4, min_tokens=10, max_corpus_occ=5
    ).count() == 0


def test_positioned_shingles_short_doc_and_positions(spark):
    d = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b")], "doc_id bigint, text string"
    )
    got = sorted(
        (r.doc_id, r.pos, r.shingle)
        for r in dedup.positioned_shingles(d, "doc_id", "text", n=4).collect()
    )
    # doc 1 is shorter than n -> no rows; doc 0: positions 1 and 2
    assert got == [(0, 1, "a b c d"), (0, 2, "b c d e")]


def test_pack_offsets_contiguous_and_chunk_spans(spark):
    from weather_data_ingestion_gcp_spark.operators import packing

    rows = [("s", i, 7) for i in range(10)]  # 10 docs x 7 tokens, ctx 16
    d = spark.createDataFrame(rows, "shard string, doc_id bigint, nt int")
    out = packing.pack_offsets(d, "doc_id", F.col("nt"), "shard", ctx_len=16).collect()
    by_id = {r.doc_id: r for r in sorted(out, key=lambda r: r.doc_id)}
    # offsets are contiguous: start of doc i == end of doc i-1
    for i in range(1, 10):
        assert by_id[i].start_offset == by_id[i - 1].end_offset
    # doc 0: tokens [0,7) -> chunk 0 only; doc 2: [14,21) spans chunks 0-1
    assert (by_id[0].first_chunk, by_id[0].last_chunk, by_id[0].n_chunks) == (0, 0, 1)
    assert (by_id[2].first_chunk, by_id[2].last_chunk, by_id[2].n_chunks) == (0, 1, 2)
    assert by_id[9].end_offset == 70


def test_scalar_quantize_error_bound(spark):
    rows = [(1, [0.0, 1.0, 0.5, 0.25]), (2, [3.0, 3.0, 3.0, 3.0])]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r for r in similarity.scalar_quantize_stats(d).collect()}
    # error bounded by half a quantization step (+ 6dp report rounding)
    assert out[1].max_abs_err <= (1.0 / 255) / 2 + 5e-7
    assert (out[1].q_min, out[1].q_max) == (0.0, 1.0)
    # degenerate constant vector: zero range, zero error (no div-by-zero)
    assert out[2].max_abs_err == 0.0


def test_scalar_quantize_hostile_rows_match_the_per_row_expression(spark):
    """NULL rows, NULL elements, empty arrays and ragged lengths give what
    the per-row transform expression gave, and never crash the worker."""
    rows = [
        (1, [0.0, 1.0, 0.5, 0.25]),
        (2, None),
        (3, []),
        (4, [0.1, None, 0.9, 0.33]),
        (5, [0.3, 0.7]),
        (6, [None, None]),
        (7, [2.0, None]),
        (8, [0.11, 0.52, 0.93, 0.24, 0.35]),
    ]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    v = F.col("embedding")
    mn = F.array_min(v).cast("double")
    mx = F.array_max(v).cast("double")
    scale = (mx - mn) / F.lit(255.0)
    err = F.transform(
        v,
        lambda x: F.abs(
            x.cast("double") - (F.round((x.cast("double") - mn) / scale, 0) * scale + mn)
        ),
    )
    ref = d.select(
        "vec_id",
        F.round(mn, 6).alias("q_min"),
        F.round(mx, 6).alias("q_max"),
        F.when(mx == mn, F.lit(0.0)).otherwise(F.round(F.array_max(err), 6)).alias("max_abs_err"),
    )
    got = {tuple(r) for r in similarity.scalar_quantize_stats(d).collect()}
    assert got == {tuple(r) for r in ref.collect()}
    by_id = {r[0]: r for r in got}
    assert by_id[2][3] is None and by_id[3][3] is None and by_id[4][3] is not None


def test_mmr_prefers_diversity_over_redundant_topk(spark):
    # cluster A near the query (ids 1,2,3 nearly identical), cluster B
    # orthogonal-ish (id 4). Pure top-2 would pick two A's; MMR picks A then B.
    rows = [
        (1, [1.0, 0.0, 0.01]),
        (2, [1.0, 0.0, 0.02]),
        (3, [0.99, 0.0, 0.0]),
        (4, [0.3, 1.0, 0.0]),
    ]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # query between the clusters: A's are most relevant but mutually
    # near-identical (sim ~1 > rel ~0.96), so the redundancy penalty beats
    # the relevance edge on the second pick
    q = [1.0, 0.3, 0.0]
    out = similarity.mmr_select(d, q, k=2, lam=0.5)
    picks = [r.vec_id for r in out.orderBy("mmr_rank").collect()]
    assert picks[0] in (1, 2, 3)  # most relevant first
    assert picks[1] == 4          # second pick is the diverse one
    # deterministic across runs
    again = [r.vec_id for r in similarity.mmr_select(
        d, q, k=2, lam=0.5).orderBy("mmr_rank").collect()]
    assert picks == again


def test_countmin_never_underestimates(spark):
    from weather_data_ingestion_gcp_spark.operators import sketch

    rows = [(i % 7,) for i in range(1000)] + [(99,)] * 500
    d = spark.createDataFrame(rows, "k bigint")
    # at most CMS_D x width cells: every row's bucket lies in [0, width)
    buckets = d.select(
        *[sketch.cms_bucket(F.col("k"), s, 256).alias(f"b{s}") for s in range(sketch.CMS_D)]
    ).agg(*[F.min(f"b{s}") for s in range(sketch.CMS_D)], *[F.max(f"b{s}") for s in range(sketch.CMS_D)])
    assert all(0 <= b < 256 for b in buckets.first())
    counts = d.groupBy("k").count()
    est = {
        r.k: r.est_count
        for r in sketch.countmin_estimate(counts, "k", "count", 256).collect()
    }
    true = {r.k: r["count"] for r in counts.collect()}
    for k, t in true.items():
        assert est[k] >= t  # CMS upper bound property
    assert est[99] >= 500


def test_chunk_spans_cover_and_overlap(spark):
    from weather_data_ingestion_gcp_spark.operators.packing import chunk_spans

    df = spark.createDataFrame(
        [(1, 10), (2, 32), (3, 33), (4, 100), (5, 0)], "doc_id bigint, n bigint"
    )
    out = chunk_spans(df, "doc_id", F.col("n"), chunk_len=32, overlap=8)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.tok_start, r.tok_end) for r in out.collect())
    )
    by_doc = {}
    for doc, idx, s, e in rows:
        by_doc.setdefault(doc, []).append((idx, s, e))
    # short and exact-length docs: one chunk covering everything
    assert by_doc[1] == [(0, 0, 10)]
    assert by_doc[2] == [(0, 0, 32)]
    # one token past the boundary starts a second chunk at the stride
    assert by_doc[3] == [(0, 0, 32), (1, 24, 33)]
    # full coverage with 8-token overlap, last chunk clipped to n
    assert by_doc[4][0] == (0, 0, 32) and by_doc[4][-1][2] == 100
    for (i1, s1, e1), (i2, s2, e2) in zip(by_doc[4], by_doc[4][1:]):
        assert i2 == i1 + 1 and s2 == s1 + 24 and s2 < e1  # overlapping
    # empty doc still yields its single empty chunk
    assert by_doc[5] == [(0, 0, 0)]
    with pytest.raises(ValueError):
        chunk_spans(df, "doc_id", F.col("n"), chunk_len=8, overlap=8)


def test_word_entropy_known_values(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # zero entropy: one distinct word
            (2, "a b c d"),          # uniform: ln(4)
            (3, "a a b"),            # 2/3,1/3 mixture
            (4, ""),                 # no words -> no row
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in text.word_entropy(df, "doc_id", "text").collect()}
    assert out[1].entropy == pytest.approx(0.0)
    assert out[2].entropy == pytest.approx(math.log(4))
    assert out[3].entropy == pytest.approx(math.log(3) - (2 * math.log(2)) / 3)
    assert 4 not in out
    assert out[2].n_words == 4


def test_strip_markup_tags_and_entities(spark):
    df = spark.createDataFrame(
        [
            (1, '<p>Hello <b>world</b></p> &amp; more'),
            (2, 'no markup here'),
            (3, 'a &lt;tag&gt; literal &nbsp; end'),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in text.strip_markup(df).collect()}
    assert out[1].clean == "Hello world & more"
    assert out[1].n_tags == 4
    assert out[2].clean == "no markup here" and out[2].n_tags == 0
    assert out[3].clean == 'a <tag> literal end'


def test_extract_urls_normalizes(spark):
    df = spark.createDataFrame(
        [
            (1, "see HTTPS://Example.COM/Path?q=1#f and http://a.org/x."),
            (2, "no links"),
        ],
        "doc_id bigint, text string",
    )
    rows = text.extract_urls(df).collect()
    norm = sorted(r.url_norm for r in rows)
    assert norm == ["https://a.org/x", "https://example.com/Path"]
    hosts = sorted(r.host for r in rows)
    assert hosts == ["a.org", "example.com"]
    assert all(r.doc_id == 1 for r in rows)


def test_bloom_xl_no_false_negatives_and_prunes(spark):
    """Packed-bitset bloom: every build key survives the prune (no false
    negatives — the decontamination prefilter's correctness invariant),
    non-members are mostly pruned, and bit-63 words (negative BIGINT
    two's-complement) round-trip."""
    from weather_data_ingestion_gcp_spark.operators import sketch

    build = spark.range(3000).select(
        F.concat(F.lit("gram-"), F.col("id")).alias("k")
    )
    words = sketch.bloom_bitset_words(build, "k")
    assert len(words) == sketch.BLOOM_XL_M >> 6
    assert all(-(1 << 63) <= w < (1 << 63) for w in words)
    probe = spark.range(10000).select(
        F.col("id"), F.concat(F.lit("gram-"), F.col("id")).alias("k")
    )
    kept = sketch.bloom_xl_prune(probe, "k", words)
    assert kept.filter(F.col("id") < 3000).count() == 3000
    fp = kept.filter(F.col("id") >= 3000).count()
    assert fp < 700, f"false-positive rate implausibly high: {fp}/7000"


def test_bloom_bitset_words_stay_an_int64_array(spark):
    """The folded bitset stays one int64 ndarray into the probe relation
    (no Python-int list round trip), and the prune it drives keeps every
    build key and equals the prune over the same words as a list."""
    from weather_data_ingestion_gcp_spark.operators import sketch

    build = spark.range(200).select(
        F.concat(F.lit("w-"), F.col("id")).alias("k")
    )
    words = sketch.bloom_bitset_words(build, "k")
    assert isinstance(words, np.ndarray) and words.dtype == np.int64
    assert words.shape == (sketch.BLOOM_XL_M >> 6,)
    probe = spark.range(2000).select(
        F.col("id"), F.concat(F.lit("w-"), F.col("id")).alias("k")
    )
    kept = lambda w: {r.id for r in sketch.bloom_xl_prune(probe, "k", w).collect()}
    got = kept(words)
    assert set(range(200)) <= got and len(got) < 400
    assert got == kept(words.tolist())


def test_bloom_xl_empty_build_prunes_everything(spark):
    from weather_data_ingestion_gcp_spark.operators import sketch

    build = spark.range(0).select(F.col("id").cast("string").alias("k"))
    words = sketch.bloom_bitset_words(build, "k")
    probe = spark.range(100).select(
        F.col("id"), F.col("id").cast("string").alias("k")
    )
    assert sketch.bloom_xl_prune(probe, "k", words).count() == 0


def test_wav_header_parse_roundtrip(spark):
    """Audio container metadata: deterministic WAVE payloads parse back
    to their construction parameters; corrupt bytes quarantine as
    format='error' rows instead of failing the Arrow batch."""
    from weather_data_ingestion_gcp_spark.operators import multimodal as mm

    rows = [(i, mm.make_wav_payload(i)) for i in range(6)]
    rows.append((99, b"not a wav at all"))
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in mm.audio_metadata(media).collect()}
    for i in range(6):
        r = out[i]
        assert (r["sample_rate"], r["channels"], r["bits_per_sample"]) == (16000, 1, 16)
        assert r["n_samples"] == 100 + (i % 50)
        assert r["duration_ms"] == ((100 + (i % 50)) * 1000) // 16000
        assert r["format"] == "wav"
    assert out[99]["format"] == "error" and out[99]["sample_rate"] is None


def test_blocked_jaccard_mega_block_sub_blocked(spark):
    """The block-size cap (VERDICT r5): a block over the cap is
    deterministically hash-split into ceil(n/cap) sub-blocks BEFORE pair
    generation — at 100x scale a dominant block grows linearly and its
    all-pairs relation quadratically; sub-blocking bounds total pairs at
    ~N*cap/2 (linear). Blocks at or under the cap are untouched (one
    sub-block == uncapped); over-cap blocks lose exactly the
    cross-sub-block pairs, deterministically (md5-hex4 of doc_id)."""
    rows = (
        # mega block: 5 near-identical docs -> 10 pairs if uncapped
        [(i, "grp", "the quick brown fox jumps over dog %d" % i) for i in range(5)]
        # small block (2 <= cap): must behave exactly as uncapped
        + [(10, "ok", "completely different content about spark engines"),
           (11, "ok", "completely different content about spark planes")]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, blk string, text string")
    capped = dedup.blocked_jaccard_pairs(
        df, "doc_id", "text", ["blk"], shingle_n=2, threshold=0.05,
        max_block_size=3,
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    # md5-hex4 % 2 buckets for ids 0..4: {1,2} and {0,3,4} -> only
    # same-bucket pairs survive in the mega block; small block intact
    assert got == {(10, 11), (1, 2), (0, 3), (0, 4), (3, 4)}
    # a cap of the largest block's size gives every block one sub-block
    uncapped = dedup.blocked_jaccard_pairs(
        df, "doc_id", "text", ["blk"], shingle_n=2, threshold=0.05,
        max_block_size=5,
    )
    un = {(r.id_a, r.id_b) for r in uncapped.collect()}
    # strict subset: only cross-sub-block mega pairs were dropped
    assert got < un and all(a < 5 and b < 5 for a, b in un - got)
    # zero-intersection pairs are never formed, so a threshold that
    # would admit them is refused
    with pytest.raises(ValueError):
        dedup.blocked_jaccard_pairs(
            df, "doc_id", "text", ["blk"], threshold=0, max_block_size=3
        )


def test_blocked_jaccard_internal_names_do_not_shadow_block_cols(spark):
    """Callers may legitimately block on columns named _bn/_sub; the
    sub-blocking internals must probe for free names instead of
    shadowing them (the ingest-dedup _rn pattern)."""
    rows = [
        (0, "x", "the quick brown fox jumps over the dog"),
        (1, "x", "the quick brown fox jumps over the cat"),
        (2, "y", "completely different content about engines"),
    ]
    for colname in ("_bn", "_sub"):
        df = spark.createDataFrame(
            rows, f"doc_id bigint, {colname} string, text string"
        )
        out = dedup.blocked_jaccard_pairs(
            df, "doc_id", "text", [colname], shingle_n=2, threshold=0.05,
            max_block_size=10,
        )
        assert {(r.id_a, r.id_b) for r in out.collect()} == {(0, 1)}


def test_bloom_xl_adaptive_width_ladder_and_wide_roundtrip(spark):
    """Round-7 100x-probe finding: a fixed 2^20-bit bloom saturates at
    ~2.4M build grams (FP ~ 1, the prune passes everything). The width
    ladder must hold >= ~8 bits per key, and a wide (hexw=6) bitset must
    keep the no-false-negative contract with positions sliced at the
    SAME width on both sides."""
    from pyspark.sql import functions as F

    from weather_data_ingestion_gcp_spark.operators import sketch

    assert sketch.bloom_xl_width(1) == 5
    assert sketch.bloom_xl_width(131_072) == 5      # 2^20 / 8
    assert sketch.bloom_xl_width(131_073) == 6
    assert sketch.bloom_xl_width(2_097_152) == 6    # 2^24 / 8
    assert sketch.bloom_xl_width(2_097_153) == 7
    assert sketch.bloom_xl_width(10**9) == 7        # capped

    build = spark.range(500).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    words, hexw = sketch.bloom_xl_build(build, "k")
    assert hexw == 5 and len(words) == (1 << 20) >> 6
    # force the wide form and verify the contract end-to-end
    wide = sketch.bloom_bitset_words(build, "k", hexw=6)
    assert len(wide) == (1 << 24) >> 6
    probe = spark.range(1000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    kept = {r["k"] for r in sketch.bloom_xl_prune(probe, "k", wide, 6).collect()}
    assert {f"key-{i}" for i in range(500)} <= kept  # no false negatives
    # mismatched widths would break the contract; the API ties them
    assert len(kept) < 1000  # the wide bitset actually prunes


def test_semantic_prune_bucket_cap_sub_blocks(spark):
    """Round-7 100x-probe finding: sign-LSH's band space is FIXED
    (2^band_bits signatures), so clustered corpora concentrate into one
    bucket and the candidate self-join goes quadratic (12k-vector
    buckets measured at sf100). With max_bucket_size the over-cap
    bucket hash-splits into sub-buckets: pairs only within a sub-bucket,
    under-cap behavior untouched, and the capped pair set is a strict
    subset of the one-sub-bucket reference (a cap at least the largest
    bucket: only cross-sub pairs dropped). A cap below 1 is refused."""
    from pyspark.sql import functions as F

    from weather_data_ingestion_gcp_spark.operators import similarity

    # 12 near-identical vectors: all land in the same sign buckets and
    # all 66 pairs verify at tau=0.35 in one sub-bucket
    rows = [
        (i, 0, [1.0 + 0.001 * i] + [0.01] * 63) for i in range(12)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, label bigint, embedding array<double>"
    )
    bands = similarity.random_hyperplane_bands(emb)
    uncapped = similarity.semantic_dedup_prune(
        emb, bands, max_bucket_size=12, tau=0.35
    )
    capped = similarity.semantic_dedup_prune(
        emb, bands, max_bucket_size=4, tau=0.35
    )
    un = {r["vec_id"]: (r["kept"], r["n_near"]) for r in uncapped.collect()}
    cp = {r["vec_id"]: (r["kept"], r["n_near"]) for r in capped.collect()}
    # one sub-bucket: one 12-clique -> only the min id is kept, 11 partners each
    assert un == {i: (i == 0, 11) for i in range(12)}
    # capped at 4: each md5 sub-bucket keeps its own minimum; neighbor
    # counts shrink to the sub-bucket cliques — strictly fewer partners
    assert all(cp[i][1] <= un[i][1] for i in range(12))
    assert sum(1 for i in range(12) if cp[i][0]) >= 1
    assert cp[0][0]  # the global minimum id always survives
    # a corpus whose buckets are all under the cap is byte-identical
    small = spark.createDataFrame(
        rows[:3], "vec_id bigint, label bigint, embedding array<double>"
    )
    small_bands = similarity.random_hyperplane_bands(small)
    a = similarity.semantic_dedup_prune(
        small, small_bands, max_bucket_size=12, tau=0.35
    ).collect()
    b = similarity.semantic_dedup_prune(
        small, small_bands, max_bucket_size=4, tau=0.35
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_bucket_size"):
            similarity.semantic_dedup_prune(emb, bands, max_bucket_size=bad)


def test_semantic_prune_keeps_the_input_id_type(spark):
    """String ids come back as strings: the verify's pair schema takes
    the id column's type instead of assuming bigint."""
    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    emb = spark.createDataFrame(
        [("a", e1), ("b", e1), ("c", e2), ("d", e1)],
        "vec_id string, embedding array<double>",
    )
    bands = similarity.random_hyperplane_bands(emb)
    for cap in (4, 2):
        out = similarity.semantic_dedup_prune(
            emb, bands, max_bucket_size=cap, tau=0.9
        )
        assert out.schema["vec_id"].dataType.simpleString() == "string"
        got = {r.vec_id: (r.kept, r.n_near) for r in out.collect()}
        assert got["c"] == (True, 0) and got["a"][0] and not got["d"][0]


def test_semantic_prune_bucket_returns_only_near_pairs(spark, monkeypatch):
    """One bucket of 300 vectors (cap above it) with no near-duplicates: the
    Arrow verify pass returns no pairs (not all 44,850). A zero vector's
    NaN cosines stay in its output, so Spark still decides them: NaN
    crosses Arrow as NULL and fails ``>= tau``."""
    from pyspark.sql.group import GroupedData

    verified = []
    apply = GroupedData.applyInArrow

    def capture(self, func, schema):
        verified.append(apply(self, func, schema))
        return verified[-1]

    monkeypatch.setattr(GroupedData, "applyInArrow", capture)
    X = np.random.default_rng(7).standard_normal((300, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(X)]
    for extra, n_pairs in (([], 0), ([(300, [0.0] * 64)], 300)):
        emb = spark.createDataFrame(rows + extra, "vec_id bigint, embedding array<double>")
        one_bucket = emb.select("vec_id", F.lit(0).alias("band"), F.lit(0).alias("bsig"))
        out = similarity.semantic_dedup_prune(
            emb, one_bucket, max_bucket_size=len(rows) + 1, tau=0.9
        )
        assert {(r.kept, r.n_near) for r in out.collect()} == {(True, 0)}
        assert verified[-1].count() == n_pairs


def test_blocked_jaccard_grouped_matches_pairs_join_form(spark):
    """The capped path's grouped-intersection execution (round 10: group
    the sub-block-keyed shingle relation instead of materializing
    pairs x shingles — the form whose verify shuffle hit the sf100 disk
    ceiling) must produce identical (pair, jaccard) rows to the
    pairs-join-verify form it replaced, on data where the cap both does
    and does not bite."""
    from pyspark.sql import functions as F

    rows = (
        [(i, "en", "web", "the quick brown fox jumps over dog %d" % i)
         for i in range(7)]
        + [(20, "de", "web", "ein schneller brauner fuchs springt hoch"),
           (21, "de", "web", "ein schneller brauner fuchs springt weit"),
           (30, "fr", "news", "contenu totalement different ici")]
    )
    df = spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, text string"
    )
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.blocked_jaccard_pairs(
            df, "doc_id", "text", ["lang", "source"], shingle_n=2,
            threshold=0.05, max_block_size=3,
        ).collect()
    }
    # reference: the pairs-join form over the SAME sub-block assignment
    counts = df.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("_n"))
    n_sub = F.expr("(_n + 2) div 3")
    salt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % n_sub
    )
    base = (
        df.join(F.broadcast(counts), ["lang", "source"])
        .select("doc_id", "lang", "source", salt.alias("_s"))
    )
    a = base.toDF("id_a", "lang", "source", "_s")
    b = base.toDF("id_b", "lang", "source", "_s")
    pairs = (
        a.join(b, ["lang", "source", "_s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    sets = dedup.shingle_sets(df, "doc_id", "text", n=2)
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.verify_jaccard(pairs, sets)
        .filter(F.col("jaccard") >= 0.05)
        .collect()
    }
    assert got == want and len(got) >= 3


def test_multimodal_patch_stats_matches_numpy_reference(spark):
    """patch_stats (operators/multimodal.py): per-channel patch statistics over
    interleaved-RGB payload bytes must match an independent per-byte
    reference — patch tiling (48 bytes per patch), tail patches shorter
    than 16 samples, the 4-bucket histogram edges (means exactly on a
    multiple of 64 land in the upper bucket), and empty payloads
    (no rows)."""
    from weather_data_ingestion_gcp_spark.operators.multimodal import patch_stats

    texts = [
        (0, "a"),                      # 1 byte: channel 0 only, 1 patch
        (1, "x" * 50),                 # spans two patches, uneven tail
        (2, ""),                       # empty: no rows at all
        (3, "".join(chr(32 + (i * 7) % 90) for i in range(123))),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    media = multimodal.with_binary_payload(df, "text", "doc_id")
    got = {
        (r.doc_id, r.channel): r
        for r in patch_stats(media).collect()
    }

    # independent reference: plain python dicts, per byte
    want = {}
    for doc_id, text in texts:
        b = text.encode()
        groups = {}
        for i, v in enumerate(b):
            groups.setdefault((i % 3, i // 48), []).append(v)
        per_ch = {}
        for (ch, _), vals in groups.items():
            per_ch.setdefault(ch, []).append(vals)
        for ch, patches in per_ch.items():
            means = [sum(p) / len(p) for p in patches]
            hist = [0, 0, 0, 0]
            for m in means:
                hist[min(int(m // 64), 3)] += 1
            want[(doc_id, ch)] = (
                len(patches),
                round(sum(sum(p) for p in patches)
                      / sum(len(p) for p in patches), 6),
                round(max(means), 6),
                tuple(hist),
            )

    assert set(got) == set(want)
    for k, (n, mean_b, max_m, hist) in want.items():
        r = got[k]
        assert (r.n_patches, r.mean_byte, r.max_patch_mean) == (n, mean_b, max_m)
        assert (r.p_dark, r.p_dim, r.p_mid, r.p_bright) == hist


def test_multimodal_frame_energy_matches_python_reference(spark):
    """frame_energy (operators/multimodal.py): the PCM interpretation must
    match an independent per-byte reference — little-endian int16
    pairing, sign fold at 32768, the odd trailing byte dropped, the
    trailing partial frame kept, integer thresholds, and payloads too
    short for one sample (no rows)."""
    from weather_data_ingestion_gcp_spark.operators.multimodal import (
        _FRAME_SAMPLES,
        _LOUD_AT_LEAST,
        _SILENT_BELOW,
        frame_energy,
    )

    texts = [
        (0, "a"),                       # 1 byte: no complete sample
        (1, ""),                        # empty
        (2, "ab"),                      # exactly one sample
        (3, "x" * 257),                 # 128 samples + odd tail byte
        (4, "".join(chr(32 + (i * 11) % 90) for i in range(300))),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    media = multimodal.with_binary_payload(df, "text", "doc_id")
    got = {r.doc_id: r for r in frame_energy(media).collect()}

    want = {}
    for doc_id, text in texts:
        b = text.encode()
        samples = []
        for i in range(0, (len(b) // 2) * 2, 2):
            s = b[i] + 256 * b[i + 1]
            samples.append(s - 65536 if s >= 32768 else s)
        if not samples:
            continue
        frames = [
            sum(v * v for v in samples[f:f + _FRAME_SAMPLES])
            for f in range(0, len(samples), _FRAME_SAMPLES)
        ]
        want[doc_id] = (
            len(frames),
            sum(frames),
            max(frames),
            sum(1 for e in frames if e < _SILENT_BELOW),
            sum(1 for e in frames if e >= _LOUD_AT_LEAST),
        )

    assert set(got) == set(want)
    for doc_id, (n, tot, mx, sil, loud) in want.items():
        r = got[doc_id]
        assert (
            r.n_frames, r.total_energy, r.max_frame_energy,
            r.n_silent, r.n_loud,
        ) == (n, tot, mx, sil, loud)
