"""Deduplication operators (SURVEY.md A3, A4).

The reference's `drop_duplicates(keep='first')` (CotyData_IPN.py:166, 1750,
1798) silently depends on API arrival order. Spark has no stable row order, so
`dedup_first` requires an EXPLICIT ordering — the determinism contract
SURVEY.md §7.3 pins down. At scale this is one shuffle on the key columns
(row_number window), which AQE sizes; no global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_first(df: DataFrame, keys: Sequence[str],
                order_by: Sequence[Column | str]) -> DataFrame:
    """A4 with determinism: keep the first row per key under `order_by`.

    `order_by` must be a total order within each key group (include a unique
    tie-breaker column) or the winner is still nondeterministic.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    rn = "__dedup_rn"
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) == 1).drop(rn)
