"""String functions (SURVEY.md §2.8 F1-F6).

Reference behaviors (file:line cites are into /root/reference/dags/):
- F1 split-into-two: CotyData_IPN.py:99
- F2 prefix slice: Funciones_CotyData.py:210, CotyData_IPN.py:1749 (a plain
  `F.substring` where used: pipelines/enrichment.py, functions/dates.py)
- F3 pad client codes: Funciones_CotyData.py:154-158
- F4 concat with separator: Funciones_CotyData.py:277, CotyData_IPN.py:354-359
- F5 empty-string -> NULL: CotyData_IPN.py:97, 337, 1125-1127
- F6 value remap: CotyData_IPN.py:1160, Funciones_CotyData.py:211-212
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F


def split_into(col: Column | str, sep: str, n: int) -> list[Column]:
    """F1: split a delimited string into `n` columns (e.g. '0001-00012345')."""
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, sep)
    return [parts.getItem(i) for i in range(n)]


def prefix_pad_unless_contains(col: Column | str, prefix: str, marker: str) -> Column:
    """F3: prepend `prefix` unless the value contains `marker`.

    The reference pads client codes with '000' except codes LIKE '%CLI%'.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(~c.contains(marker), F.concat(F.lit(prefix), c)).otherwise(c)


def concat_sep(sep: str, *cols: Column | str) -> Column:
    """F4: separator-joined concat (null-skipping, like the reference's f-strings)."""
    return F.concat_ws(sep, *[F.col(c) if isinstance(c, str) else c for c in cols])


def empty_to_null(col: Column | str) -> Column:
    """F5: '' -> NULL normalization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(c, F.lit(""))


def remap_values(col: Column | str, mapping: Mapping, default: Column | None = None) -> Column:
    """F6: finite value remap (e.g. category 0 -> 7) as a chained CASE."""
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for k, v in mapping.items():
        cond = c == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    if expr is None:
        return c
    return expr.otherwise(default if default is not None else c)
