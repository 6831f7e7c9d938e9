"""Arithmetic / conditional amount functions (SURVEY.md §2.8 F14-F19).

Reference behaviors (cites into /root/reference/dags/CotyData_IPN.py):
- F14 fiscal profit (NetoFinal/1.21)*0.21 for invoice types 3, 8: :107-108
- F15 conditional sign flips (discounts for types 1-3; credit notes): :110-113, 136-139, 155-160
- F16 row products/differences (cost, profit) and F17 round(4), :129-134,
  are plain column arithmetic and `F.round(.., 4)`, written inline in
  pipelines/sales_documents.transform_sales_details
- F19 deleted-flag from timestamp comparison with null rule: :705-708
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_docker_spark.functions.dates import _c


def fiscal_profit(neto_final: Column | str, invoice_type: Column | str,
                  types: tuple[int, ...] = (3, 8), vat: float = 1.21) -> Column:
    """F14: (NetoFinal / 1.21) * 0.21 for fiscal invoice types, else NULL."""
    nf, it = _c(neto_final), _c(invoice_type)
    return F.when(it.isin(list(types)), nf / vat * (vat - 1.0))


def conditional_negate(col: Column | str, cond: Column) -> Column:
    """F15: flip sign where `cond` holds (credit notes, sale-type discounts)."""
    c = _c(col)
    return F.when(cond, -c).otherwise(c)


def deleted_flag(deletion_ts: Column | str, undeletion_ts: Column | str) -> Column:
    """F19: ARTICULO_HABILITADO from the deletion/undeletion group-max pair.

    Exact reference rule (CotyData_IPN.py:705-708): disabled (0) when
    DeletionDatetime > UnDeletionDatetime, and ALWAYS disabled when
    UnDeletionDatetime is null — the null rule overrides, matching the
    two-step pandas assignment.
    """
    d, u = _c(deletion_ts), _c(undeletion_ts)
    return F.when(u.isNull() | (d > u), F.lit(0)).otherwise(F.lit(1))
