"""Nested struct/array functions (SURVEY.md §2.8 F20-F23).

Reference behaviors (cites into /root/reference/dags/CotyData_IPN.py):
- F20 null-guarded struct access (Tax.IdentificationNumber, ...): :331-371
- F21 fiscal-address array search: :343-359 (searched) vs :2213 (hard-indexed)
- F23 absent-key fallback: :620, 1841, 2210
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_docker_spark.functions.dates import _c


def fiscal_address_field(addresses: Column | str, field: str,
                         addr_type: str = "fiscal_address") -> Column:
    """F21: field of the first address whose Type matches, else NULL.

    `try_element_at(filter(Addresses, a -> a.Type == 'fiscal_address'), 1).field`
    — a higher-order function, no explode, no UDF. try_element_at (not
    element_at) so a record with no matching address yields NULL instead of
    an ANSI out-of-bounds error.
    """
    arr = _c(addresses)
    first = F.try_element_at(F.filter(arr, lambda a: a["Type"] == F.lit(addr_type)), F.lit(1))
    return first.getField(field)


def struct_field_or(col: Column | str, field: str, default=None) -> Column:
    """F20/F23: struct field with a default when the struct or field is null.

    Spark struct access is already null-safe; this adds the reference's
    `.get(k, default)` fallback (e.g. PurchaseOrderType default 7).
    """
    v = _c(col).getField(field)
    return F.coalesce(v, F.lit(default)) if default is not None else v
