"""Guard against reintroducing order-dependent float aggregation.

Round 2's one red driver row (sessionize_events) was ``ROUND(SUM(value), 2)``
over raw doubles: double sums accumulate in engine- and partitioning-specific
order, so rounding can flip a half-cent boundary between Spark and the DuckDB
oracle even when local parity passes at every SF. The fix is per-row integer
quantization (``plans.registry._cents``): sum exact BIGINT cents (or micro-units
for quotients) and divide once at the end.

This test pins the per-file count of the fragile pattern. The remaining
grandfathered sites are TPC-H money aggregates (l_extendedprice and friends)
whose groups are fat enough that both engines have agreed for two rounds and
whose published query shapes we keep verbatim; every ``events.value`` sum is
quantized. A new ``round(sum(...))`` anywhere bumps a count and fails here —
use the ``_cents`` pattern instead, or consciously update the allowlist with
a justification.
"""

from __future__ import annotations

import re
from pathlib import Path

PLANS = Path(__file__).resolve().parent.parent / "weather_data_ingestion_gcp_spark" / "plans"

# (file, spark-side F.round(F.sum( count, oracle-side ROUND(SUM( count).
ALLOWED = {
    "tpch.py": (15, 18),
    "warehouse.py": (6, 7),  # TPC-H money columns outside the tpch_ queries
    "text_tokenizer.py": (0, 5),  # all five are SUM over 0/1 integers — exact
    "multimodal_payloads.py": (0, 2),  # SUM over integer byte values — exact
    "dedup_graph.py": (0, 0),
    "embeddings.py": (0, 0),
    "sampling_mix.py": (0, 0),
    "audit_stats.py": (0, 0),
    "streaming_events.py": (0, 0),
}

SPARK_PAT = re.compile(r"F\.round\(F\.sum\(")
SQL_PAT = re.compile(r"ROUND\(SUM\(", re.IGNORECASE)


def test_no_new_round_over_sum_sites():
    for name, (n_spark, n_sql) in ALLOWED.items():
        src = (PLANS / name).read_text()
        got_spark = len(SPARK_PAT.findall(src))
        got_sql = len(SQL_PAT.findall(src))
        assert got_spark == n_spark, (
            f"{name}: {got_spark} F.round(F.sum( sites (allowlist {n_spark}). "
            "New double-sum rounding is one partitioning away from a driver "
            "hash flip — quantize per row with plans.registry._cents instead."
        )
        assert got_sql == n_sql, (
            f"{name}: {got_sql} ROUND(SUM( oracle sites (allowlist {n_sql}). "
            "Mirror the _cents quantization in the oracle SQL instead."
        )


def test_events_value_sums_are_quantized():
    """No query may round a raw SUM over the events ``value`` double."""
    for path in PLANS.glob("*.py"):
        src = path.read_text()
        for pat in (r"F\.round\(F\.sum\(\"value\"", r"ROUND\(SUM\(value\s*\)"):
            assert not re.search(pat, src), f"{path.name}: raw value-sum rounding"
