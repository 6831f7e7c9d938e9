"""Price/cost history pipelines (SURVEY.md A4 — the dedup-determinism case).

Reference semantics (cites into /root/reference/dags/CotyData_IPN.py):
- PRECIOS_HISTORICO (:1738-1751): mixed-format timestamp parse, 23-char
  SQL Server datetime string, dedup by (ITEM_ID, ID_PRECIOS_LISTA)
- COSTOS_HISTORICO (:1789-1801): same with ITEM_ID only
- the reference's keep='first' trusts API arrival order; per SURVEY.md §7.3
  the winner here is pinned EXPLICITLY: latest effective timestamp wins,
  ties broken by value — a total order, so re-runs give identical results.
- the reference loops per price list id and concatenates (:1775-1782, U1);
  here the price-list id is a column and the loop disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_docker_spark.functions import format_sqlserver_datetime, parse_ts_mixed
from etl_docker_spark.operators import dedup_first


def transform_price_logs(price_logs: DataFrame, price_list_id: int) -> DataFrame:
    """PRECIOS_HISTORICO for one price list (:1738-1751)."""
    base = price_logs.select(
        F.col("Item.Id").alias("ITEM_ID"),
        F.lit(price_list_id).alias("ID_PRECIOS_LISTA"),
        parse_ts_mixed(F.col("Audit.CreationDatetime")).alias("_ts"),
        F.col("NetValueNew").alias("PRECIO_NETO"),
    )
    deduped = dedup_first(
        base, ["ITEM_ID", "ID_PRECIOS_LISTA"],
        [F.desc("_ts"), F.desc("PRECIO_NETO")])
    return deduped.select(
        "ITEM_ID", "ID_PRECIOS_LISTA",
        format_sqlserver_datetime("_ts").alias("PRECIO_VIGENCIA_DESDE"),
        "PRECIO_NETO",
    )


