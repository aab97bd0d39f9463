"""Local stand-in for the driver's correctness gate: run every queries()
entry in Spark AND its oracle_sql() in DuckDB on the same sf dir, compare
row count, column names, and order-insensitive values (exact string-equal
after per-cell normalization mirroring a value-hash).

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from weather_data_ingestion_gcp_spark.plans.registry import type_class  # noqa: E402


def normalize_cell(v) -> str:
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime,)):
        return v.isoformat(sep=" ")
    if isinstance(v, (datetime.date,)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    return str(v)


def rowset(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(normalize_cell(r[i]) for i in order) for r in rows)
    return sorted(cols), out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from weather_data_ingestion_gcp_spark.session import get_spark

    spark = get_spark("parity", shuffle_partitions=8)
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            d_types = {
                r[0]: r[1]
                for r in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            }
            rel = con.execute(oracles[name])
            d_cols = [d[0] for d in rel.description]
            d_rows = rel.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(ex).__name__}: {ex}")
            continue
        # Type-exact check: the driver hashes Spark and DuckDB results
        # independently, so a logical-type *class* mismatch (decimal128 vs
        # int64) is a red row even with identical values. Mirror it here.
        type_mismatch = [
            (c, s_types[c], d_types[c])
            for c in s_cols
            if c in d_types and type_class(s_types[c]) != type_class(d_types[c])
        ]
        if type_mismatch:
            failures.append(name)
            print(f"FAIL  {name}: type-class mismatch (col, spark, duckdb): {type_mismatch}")
            continue
        sc, sr = rowset(s_cols, s_rows)
        dc, dr = rowset(d_cols, d_rows)
        if sc != dc:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={sc} duckdb={dc}")
        elif len(sr) != len(dr):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(sr)} duckdb={len(dr)}")
        elif sr != dr:
            failures.append(name)
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL  {name}: values differ; first diffs (spark vs duckdb): {diffs}")
        else:
            print(f"OK    {name}: {len(sr)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
