"""Master-data pipelines: the 9-task Airflow DAG's dimension loads (O1).

Reference semantics (cites into /root/reference/dags/CotyData_IPN.py):
- families (:1040-1045), categories (:996-1010 nested ItemFamily),
  trademarks (:1073-1081)
- attributes (:1486-1502), attribute VALUES with the 3-row blacklist
  (:1504-1519, P6), attribute categories (:1592-1598)
- suppliers (:1954-1969) incl. absent SupplierSubType -> NULL

Each is a pure projection/flatten; load order (dims before facts) is the
DAG dependency chain (dag_maestros.py:159), preserved by run_master_data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (CODIGO_VALOR, CODIGO_ATRIBUTO, VALOR_DESCRIPCION) rows dropped by the
# reference (:1511-1518) — behavior, not a bug (SURVEY.md §7.3)
ATTRIBUTE_VALUE_BLACKLIST = ((218, 8, "NO"), (320, 9, "NO"), (321, 10, "NO"))


def transform_families(families: DataFrame) -> DataFrame:
    return families.select(
        F.col("Id").alias("CODIGO_FAMILIA"),
        F.col("Name").alias("DESCRIPCION_FAMILIA"),
    )


def transform_categories(categories: DataFrame) -> DataFrame:
    return categories.select(
        F.col("Id").alias("CODIGO_CATEGORIA"),
        F.col("Name").alias("DESCRIPCION_CATEGORIA"),
        F.col("ItemFamily.Id").alias("CODIGO_FAMILIA"),
    )


def transform_trademarks(trademarks: DataFrame) -> DataFrame:
    return trademarks.select(
        F.col("Id").alias("CODIGO_MARCA"),
        F.col("Name").alias("DESCRIPCION_MARCA"),
    )


def transform_attributes(attributes: DataFrame) -> DataFrame:
    return attributes.select(
        F.col("Id").alias("CODIGO_ATRIBUTO"),
        F.col("Name").alias("DESCRIPCION_ATRIBUTO"),
        F.col("AttributeCategory.Id").alias("CODIGO_CATEGORIA_ATRIBUTO"),
        F.col("AttributeType.Id").alias("CODIGO_TIPO_ATRIBUTO"),
        F.col("IsRequired").alias("REQUERIDO"),
        F.col("IsMandatory").alias("OBLIGATORIO"),
    )


def transform_attribute_values(attributes: DataFrame) -> DataFrame:
    """Explode Values[] and drop the blacklisted rows (P6 negated mask)."""
    vals = (attributes
            .filter(F.col("Values").isNotNull() & (F.size("Values") > 0))
            .select(F.col("Id").alias("CODIGO_ATRIBUTO"), F.explode("Values").alias("v"))
            .select(
                F.col("v.Id").alias("CODIGO_VALOR"),
                F.col("v.Value").alias("VALOR_DESCRIPCION"),
                "CODIGO_ATRIBUTO",
            ))
    for val_id, attr_id, desc in ATTRIBUTE_VALUE_BLACKLIST:
        vals = vals.filter(~(
            (F.col("CODIGO_VALOR") == val_id)
            & (F.col("CODIGO_ATRIBUTO") == attr_id)
            & (F.col("VALOR_DESCRIPCION") == desc)))
    return vals


def transform_suppliers(suppliers: DataFrame) -> DataFrame:
    """CARGA_PROVEEDORES (:1954-1969); SupplierSubType may be absent."""
    return suppliers.select(
        F.col("Id").alias("CODIGO_PROVEEDOR"),
        F.col("SupplierFiscalName").alias("RAZON_SOCIAL_PROVEEDOR"),
        F.col("SupplierName").alias("NOMBRE_FANTASIA_PROVEEDOR"),
        F.col("Tax.IdentificationNumber").alias("CUIT"),
        F.col("SupplierCompany.Id").alias("ID_RAZON_SOCIAL"),
        F.col("SupplierCode").alias("IDENTIFICADOR_INTERCOMPANY"),
        F.col("SupplierType.Id").alias("ID_TIPO_PROVEEDOR"),
        F.col("SupplierSubType.Id").alias("ID_SUB_TIPO_PROVEEDOR"),
        F.col("Tax.TaxCondition.Id").alias("ID_TIPO_CONDICION_FISCAL"),
    )
