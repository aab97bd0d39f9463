"""Grouped-map (applyInArrow) operators — the Python escape hatch for
per-group logic that genuinely needs the whole group in one batch.

Everything here is ALSO expressible with window functions; these exist to
keep the grouped-map Arrow path exercised and contract-tested (the oracle
for ``grouped_zscore`` is the window-function formulation). At 100 TB the
constraint is group size, not row count: one group must fit one executor's
Arrow table — key choice is the scale knob.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def grouped_zscore(df: DataFrame, group_col: str, id_col: str, value_col: str) -> DataFrame:
    """Per-group z-score normalization: (x - mean) / stddev_samp, rounded
    to 6 places. The group and id columns keep their input types. A NULL
    value is skipped by both moments and gets a NULL z-score; a group
    whose stddev is 0 or undefined gets 0.0. The moments are two-pass
    numpy sums with NULLs as 0.0 (pandas' skip-NA arithmetic)."""

    def normalize(group: pa.Table) -> pa.Table:
        v = group.column(value_col).to_numpy().astype(np.float64)
        na = np.isnan(v)
        x = np.where(na, 0.0, v)
        n = len(v) - na.sum()
        m = x.sum() / n if n else np.nan
        sq = np.where(na, 0.0, (m - x) ** 2)
        s = np.sqrt(sq.sum() / (n - 1)) if n > 1 else np.nan
        z = (v - m) / s if s and s == s else v * 0.0
        return pa.table(
            {
                group_col: group.column(group_col),
                id_col: group.column(id_col),
                "zscore": pa.array(np.round(z, 6), from_pandas=True),
            }
        )

    out = T.StructType(
        [df.schema[group_col], df.schema[id_col], T.StructField("zscore", T.DoubleType())]
    )
    return df.groupBy(group_col).applyInArrow(normalize, out)
