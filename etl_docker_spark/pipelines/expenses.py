"""Expense-assignment pipeline (SURVEY.md S7/P9/P12).

Reference: Funciones_CotyData.py:339-370 — read (CODIGO_GASTO, Sucursal)
from a hand-edited Excel workbook, map the branch description to its code,
drop unassignable rows (NULL branch), stage-load the assignments.

The Excel read stays a driver-side edge (sources.excel); everything after
is the usual broadcast lookup + null-drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_docker_spark.operators import enrich


def transform_expense_assignments(assignments: DataFrame,
                                  sucursales: DataFrame) -> DataFrame:
    """(CODIGO_GASTO, Sucursal) + SUCURSALES -> ACTUALIZACION_GASTOS_OPERATIVOS.

    Left lookup then dropna on the code: rows naming an unknown branch are
    discarded, exactly the reference's `.map` + `dropna` pair (:350-356).
    """
    from pyspark.sql import functions as F

    dim = sucursales.select(
        F.col("DESCRIPCION_SUCURSAL").alias("Sucursal"), "CODIGO_SUCURSAL")
    joined = enrich(assignments, dim, on=["Sucursal"], how="left")
    return (joined.drop("Sucursal")
            .na.drop(subset=["CODIGO_SUCURSAL"]))
