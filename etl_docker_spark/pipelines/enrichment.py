"""Dimension-lookup enrichment library — the Funciones_CotyData surface.

Every lookup in the reference (merge / dict-map / loop-assign — SURVEY.md
J1-J5) becomes a broadcast join here via operators.enrich. Cites into
/root/reference/dags/Funciones_CotyData.py.

Physical note (same at any scale): the dimension side is broadcast, the fact
side never shuffles; chained lookups stay in one stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_docker_spark.functions import prefix_pad_unless_contains, remap_values
from etl_docker_spark.operators import enrich, two_hop_enrich


def codigo_proveedor(df: DataFrame, proveedores: DataFrame) -> DataFrame:
    """J1 (:189-199): composite-key inner merge on (name, company)."""
    dim = proveedores.select(
        "CODIGO_PROVEEDOR",
        F.col("RAZON_SOCIAL_PROVEEDOR").alias("Proveedor"),
        "ID_RAZON_SOCIAL")
    return enrich(df, dim, on=["Proveedor", "ID_RAZON_SOCIAL"], how="inner")


def rz_from_oc_prefix(df: DataFrame, col_oc: str) -> DataFrame:
    """F2+F6 (:209-214): company id from the OC number's 4-char prefix."""
    prefix = F.substring(F.col(col_oc), 1, 4)
    return df.withColumn(
        "ID_RAZON_SOCIAL", remap_values(prefix, {"0001": "1", "0014": "2"}).cast("int"))


def codigo_marca(df: DataFrame, marcas: DataFrame, campo_marca: str) -> DataFrame:
    """J2 (:297-305): brand description -> code, inner."""
    dim = marcas.select("CODIGO_MARCA", F.col("DESCRIPCION_MARCA").alias(campo_marca))
    return enrich(df, dim, on=[campo_marca], how="inner").drop(campo_marca)


def categoria_remito_movimiento(df: DataFrame, categorias: DataFrame,
                                nombre_campo: str) -> DataFrame:
    """J4 (:321-336): the `.replace(dict)` description->code map as a left
    broadcast join; unmatched descriptions stay as-is in the reference, so
    coalesce back to the original value."""
    dim = categorias.select(
        F.col("DESCRIPCION_CATEGORIA_REMITO_MOVIMIENTO").alias(nombre_campo),
        F.col("ID_CATEGORIA_REMITO_MOVIMIENTO").cast("string").alias("__code"))
    joined = enrich(df, dim, on=[nombre_campo], how="left")
    return (joined
            .withColumn(nombre_campo, F.coalesce(F.col("__code"), F.col(nombre_campo)))
            .drop("__code"))


def _map_lookup(df: DataFrame, dim: DataFrame, desc_col_in_dim: str,
                code_col: str, nombre_campo: str, keep_input: bool = False) -> DataFrame:
    """The `.map(dict)` left-lookup shape shared by the J4 family: unmatched
    descriptions yield NULL codes; the description column is dropped.

    Caveat vs the reference: `.map(dict)` silently collapses DUPLICATE dim
    descriptions (dict insertion order picks the winner) while a join
    multiplies rows. Dimension descriptions are unique in practice (PK'd
    tables); if a dim ever isn't, dedup it before the lookup.
    """
    dim2 = dim.select(F.col(desc_col_in_dim).alias(nombre_campo), code_col)
    out = enrich(df, dim2, on=[nombre_campo], how="left")
    return out if keep_input else out.drop(nombre_campo)


def id_precios_lista(df: DataFrame, precios_lista: DataFrame,
                     nombre_campo: str) -> DataFrame:
    """J4 (:11-27): price-list description -> ID_PRECIOS_LISTA."""
    return _map_lookup(df, precios_lista, "PRECIOS_LISTA_DESCRIPCION",
                       "ID_PRECIOS_LISTA", nombre_campo)


def codigo_sucursal_desde_pv(df: DataFrame, puntos_venta: DataFrame) -> DataFrame:
    """J5 (:112-135): point-of-sale -> sucursal -> company, two chained
    broadcast joins (the reference's double loop-assign with int casts)."""
    hop1 = puntos_venta.select("CODIGO_PUNTO_VENTA", "CODIGO_SUCURSAL")
    hop2 = puntos_venta.select("CODIGO_SUCURSAL", "ID_RAZON_SOCIAL").distinct()
    out = two_hop_enrich(df, hop1, ["CODIGO_PUNTO_VENTA"], hop2,
                         ["CODIGO_SUCURSAL"], how="left")
    return out.withColumn("CODIGO_SUCURSAL", F.col("CODIGO_SUCURSAL").cast("int")) \
              .withColumn("ID_RAZON_SOCIAL", F.col("ID_RAZON_SOCIAL").cast("int"))


def codigo_razon_social(df: DataFrame, razon_social: DataFrame,
                        nombre_campo: str) -> DataFrame:
    """J4 (:159-175): company description -> ID_RAZON_SOCIAL."""
    return _map_lookup(df, razon_social, "RAZON_SOCIAL_DESCRIPCION",
                       "ID_RAZON_SOCIAL", nombre_campo)


def fix_client_code(df: DataFrame, col: str = "ID_CLIENTE") -> DataFrame:
    """F3 (:154-158): prefix '000' unless the code contains 'CLI'."""
    return df.withColumn(col, prefix_pad_unless_contains(col, "000", "CLI"))


def remitos_compra_cod_proveedor_fix(remitos_detalle: DataFrame) -> DataFrame:
    """The CODIGO_PROVEEDOR += 1 correction (:306-320), set-based.

    The reference row-loops UPDATEs for receipts of company 2 at
    '01-DF CENTRAL'; here it's one conditional column rewrite (quirk
    preserved on purpose — SURVEY.md §7.3).
    """
    cond = (F.col("ID_RAZON_SOCIAL") == 2) & (F.col("Sucursal stock") == "01-DF CENTRAL")
    return remitos_detalle.withColumn(
        "CODIGO_PROVEEDOR",
        F.when(cond, F.col("CODIGO_PROVEEDOR") + 1).otherwise(F.col("CODIGO_PROVEEDOR")))
