"""Python UDTF / grouped-agg (UDAF-analog) surface — the table-valued and
aggregate extension points SURVEY.md §2.8 claims alongside scalar UDFs.

The production paths stay columnar (packing.chunk_spans is the deployed
chunker; built-in aggregates cover the hot path): these exist to prove
the extension mechanism end-to-end — registration, SQL LATERAL use,
Arrow batch transfer — with tests pinning their outputs to the columnar
equivalents. A user extending the engine with a custom table function
follows exactly this shape.

UDTFs evaluate row-at-a-time in Python, so at 100 TB a UDTF belongs on
bounded or pre-reduced relations only; anything per-token goes through
the columnar operators or an Arrow UDF instead.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf, udtf


class ChunkSpansLogic:
    """Table function: fixed-size overlapping context-window spans over a
    token count — one output row per chunk. Same span arithmetic as
    packing.chunk_spans (stride = chunk_len - overlap; last chunk
    clamped; every token covered), pinned equal in tests.

    Kept as a plain class (wrapped below) so the generator logic stays
    directly unit-testable — the @udtf wrapper hides ``eval``."""

    def eval(self, n_tokens: int, chunk_len: int, overlap: int):  # noqa: D102
        if n_tokens is None or n_tokens <= 0 or chunk_len <= 0:
            return
        stride = max(chunk_len - overlap, 1)
        cid = 0
        start = 0
        while True:
            length = min(chunk_len, n_tokens - start)
            yield cid, start, length
            if start + chunk_len >= n_tokens:
                return
            cid += 1
            start += stride


ChunkSpansUDTF = udtf(
    ChunkSpansLogic, returnType="chunk_id int, start_tok int, chunk_tokens int"
)


def register_udtfs(spark: SparkSession) -> None:
    """Expose the table functions to SQL: LATERAL chunk_spans(...)."""
    spark.udtf.register("chunk_spans", ChunkSpansUDTF)


def weighted_mean_udaf():
    """Grouped-agg Arrow UDF (the PySpark UDAF mechanism): weighted mean
    over Arrow-batched columns; use for custom aggregates the built-ins
    lack. NULLs add nothing to either sum, and a group whose weights sum
    to zero gets NULL."""

    @arrow_udf("double")
    def weighted_mean(v: pa.Array, w: pa.Array) -> float:
        v, w = v.to_numpy(zero_copy_only=False), w.to_numpy(zero_copy_only=False)
        tot = np.nansum(w)
        return float(np.nansum(v * w) / tot) if tot else None

    return weighted_mean
