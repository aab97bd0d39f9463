"""Scan-layout helpers (round-13 optimization).

The driver's testdata parquet files are single-row-group (verified with
pyarrow at every SF: one row group per table), and a parquet row group
is the unit of split assignment — so every scan is ONE task no matter
what ``maxPartitionBytes`` says, and all scan-side per-row work (md5
checksums, tokenize+explode, aggregate partials) runs serially on
``local[32]``. This is the guide §2.5 "input skew: one huge unsplittable
file" case, with the guide's own remedy: repartition immediately after
the read.

``spread_small`` applies that remedy ONLY in the small-input regime:

- below the byte cap, a deterministic hash repartition to the session's
  default parallelism costs one tiny exchange (the whole relation is at
  most a few hundred MB) and buys cores-times parallelism for every
  expression above it — measured 2.0 s -> 0.7 s on the lineitem checksum
  aggregate and 2.6 s -> 1.6 s on the minhash shingle build at sf0.1;
- above the cap the input has natural splits (any sane writer emits
  ~128 MB row groups) and the repartition would shuffle the corpus for
  nothing, so the frame is returned unchanged.

Keys must be deterministic columns of the frame (never rand-derived —
SPARK-38388: retried map tasks would re-draw and duplicate/lose rows).
Hash repartition is chosen over round-robin because keyless
``repartition(n)`` pays a local sort of its input first
(``spark.sql.execution.sortBeforeRepartition``) — measured 1.0 s vs
0.7 s on the checksum aggregate.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame

#: Above this compressed-input size the scan is assumed naturally
#: splittable and spread_small is a no-op. 256 MiB: two default-sized
#: parquet row groups — the point where a writer that produces one-
#: row-group files has itself stopped being sane. Tests monkeypatch it.
SPREAD_MAX_BYTES = 256 << 20


def _input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the frame's backing files, or None when the
    frame is not (traceably) file-backed."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def spread_small(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Hash-repartition a small file-backed relation to the session's
    default parallelism so scan-side per-row work parallelizes; identity
    above the size cap (where the scan has natural splits) or when the
    input size is unknowable."""
    size = _input_bytes(df)
    if size is None or size >= SPREAD_MAX_BYTES:
        return df
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *keys)
