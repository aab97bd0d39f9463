"""Driver-fidelity sweep: run queries under a VANILLA SparkSession (the
driver uses its own plain session, not our tuned factory) at TWO different
shuffle-partition settings, and require (a) the two Spark runs agree with
each other and (b) both agree with the DuckDB oracle.

This is the exact failure mode that produced round 2's one red row:
sessionize_events passed the tuned-session parity sweep at every SF but
flipped a half-cent rounding boundary under the driver's partitioning.
Order-dependent float accumulation is invisible to any single-run compare
— only a cross-partitioning self-compare shakes it out.

Usage: python tools/driver_fidelity.py [sf_dir] [--window-only] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from parity import normalize_cell, rowset  # noqa: E402  (same dir)


def _vanilla(partitions: int):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def main() -> int:
    args = [a for a in sys.argv[1:]]
    window_only = "--window-only" in args
    if window_only:
        args.remove("--window-only")
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    only = set(args[1:] if args and args[0].startswith("/") else args)

    import __spark_entry__ as e
    from weather_data_ingestion_gcp_spark.plans import DRIVER_WINDOW

    qs, oracles = e.queries(), e.oracle_sql()
    names = [
        n
        for n in qs
        if (not only or n in only) and (not window_only or n in DRIVER_WINDOW)
    ]

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # pass 1 and pass 2: same queries, different partitioning
    results: dict[int, dict[str, tuple]] = {}
    for partitions in (3, 200):
        spark = _vanilla(partitions)
        spark.sparkContext.setLogLevel("ERROR")
        run: dict[str, tuple] = {}
        for name in names:
            try:
                sdf = qs[name](spark, sf_dir)
                run[name] = rowset(sdf.columns, [tuple(r) for r in sdf.collect()])
            except Exception as ex:
                run[name] = ("ERROR", f"{type(ex).__name__}: {ex}")
        results[partitions] = run
        spark.stop()

    failures = []
    for name in names:
        t0 = time.time()
        a, b = results[3][name], results[200][name]
        if a[0] == "ERROR" or b[0] == "ERROR":
            failures.append(name)
            print(f"FAIL  {name}: spark error: {a if a[0] == 'ERROR' else b}")
            continue
        if a != b:
            failures.append(name)
            diffs = [(x, y) for x, y in zip(a[1], b[1]) if x != y][:2]
            print(f"FAIL  {name}: partitioning-dependent result; diffs {diffs}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(a[1])} rows, partition-stable (no oracle)")
            continue
        try:
            rel = con.execute(oracles[name])
            d = rowset([c[0] for c in rel.description], rel.fetchall())
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(ex).__name__}: {ex}")
            continue
        if a != d:
            failures.append(name)
            print(f"FAIL  {name}: oracle mismatch under vanilla session")
            continue
        print(f"OK    {name}: {len(a[1])} rows, partition-stable [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
