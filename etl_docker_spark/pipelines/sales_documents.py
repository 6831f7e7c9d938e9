"""Sales-documents pipeline (EP2 — the reference's richest pipeline).

Reference semantics (cites into /root/reference/dags/CotyData_IPN.py), all
preserved bit-for-bit per SURVEY.md §7.3:

- credit-note invoice types hardcoded (:73)
- required header columns exist even when the API omits them (:86-94)
- CustomerCode '' -> NULL (:97)
- InvoiceNumberChr 'PPPP-NNNNNNNN' splits into point-of-sale + invoice number,
  both ints (:99-101)
- VENTA_FECHA date + VENTA_FECHA2 timestamp from the ISO InvoiceDate (:103-104)
- fiscal profit (NetoFinal/1.21)*0.21 only for types 3 and 8 (:107-108)
- discount sign flip only for sale types 1,2,3 (:110-113)
- detail cost = UnitCost*qty, profit = subtotal-cost rounded to 4 (:129-134)
- credit notes negate detail qty/cost and payment amount/recharge (:136-139,
  155-160) via the header's SaleID set — here a broadcast semi-join flag, not
  a collected Python set (scales to any number of credit notes)
- payments deduped by PaymentID (:166); arrival-order keep='first' becomes an
  explicit deterministic ordering (SURVEY.md §7.3)

Spark shape: ONE nested DataFrame in; three flat tables out; every transform
is a column expression (zero Python UDFs); the company/store loop of the
reference (:278-316) disappears — CompanyID/StoreID are just columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_docker_spark.functions import empty_to_null, fiscal_profit
from etl_docker_spark.operators import dedup_first, explode_children, flag_semi_join

CREDIT_NOTE_TYPES = (8, 10, 11, 12, 17, 20, 27, 28, 29, 37, 38, 39, 43, 44, 45, 47)
SALE_TYPES_NEGATE_DISCOUNT = (1, 2, 3)
FISCAL_PROFIT_TYPES = (3, 8)


def credit_note_keys(headers: DataFrame) -> DataFrame:
    """SaleIDs of credit-note documents (:70-80) — kept distributed."""
    return (headers
            .filter(F.col("InvoiceType").isin(list(CREDIT_NOTE_TYPES)))
            .select("SaleID"))


def transform_sales_header(headers: DataFrame) -> DataFrame:
    """Header transform (:83-118)."""
    df = headers
    inv = F.split(F.col("InvoiceNumberChr"), "-")
    negate = F.col("InvoiceType").isin(list(SALE_TYPES_NEGATE_DISCOUNT))
    out = df.select(
        F.col("SaleID").alias("ID_VENTA"),
        inv.getItem(0).cast("int").alias("CODIGO_PUNTO_VENTA"),
        inv.getItem(1).cast("int").alias("NUMERO_COMPROBANTE"),
        F.col("InvoiceType").alias("ID_COMPROBANTE_TIPO"),
        F.col("CompanyID").alias("ID_RAZON_SOCIAL"),
        F.col("StoreID").alias("CODIGO_SUCURSAL"),
        F.to_date(F.to_timestamp("InvoiceDate")).alias("VENTA_FECHA"),
        F.to_timestamp("InvoiceDate").alias("VENTA_FECHA2"),
        F.col("Neto").alias("VENTA_SUBTOTAL"),
        F.when(negate, -F.col("DiscountAmt")).otherwise(F.col("DiscountAmt")).alias("DESCUENTO1"),
        F.when(negate, -F.col("GeneralDiscountAmt")).otherwise(F.col("GeneralDiscountAmt")).alias("DESCUENTO2"),
        F.col("NetoFinal").alias("NETO_GRAVADO_VENTA"),
        F.col("IVAAmt").alias("IVA_VENTA"),
        F.col("RechargeAmt").alias("RECARGO_VENTA"),
        F.col("InvoiceTotal").alias("TOTAL_VENTA"),
        empty_to_null("CustomerCode").alias("ID_CLIENTE"),
        F.col("InvoiceTimeChr").alias("VENTA_HORA"),
        F.col("SalesOrderNumber").alias("NUMERO_NOTA_VENTA"),
        fiscal_profit("NetoFinal", "InvoiceType", FISCAL_PROFIT_TYPES).alias("UTILIDAD_FISCAL"),
    )
    return out


def transform_sales_details(details: DataFrame, credit_keys: DataFrame) -> DataFrame:
    """Detail transform (:119-141): cost/profit arithmetic + credit-note negate."""
    flagged = flag_semi_join(details, credit_keys, ["SaleID"], "is_credit_note")
    cost = F.col("UnitCost") * F.col("UnitQty")
    neg = F.col("is_credit_note")
    return flagged.select(
        F.col("DetailID").alias("ID_VENTA_FILA"),
        F.col("SaleID").alias("ID_VENTA"),
        F.col("ItemID").alias("ITEM_ID"),
        F.col("UnitPrice").alias("PRECIO_UNITARIO_NETO"),
        F.when(neg, -F.col("UnitQty")).otherwise(F.col("UnitQty")).alias("CANTIDAD_VENTA"),
        F.col("UnitDiscount").alias("DESCUENTO_UNITARIO"),
        F.col("UnitSubTotal").alias("SUBTOTAL_NETO"),
        F.when(neg, -cost).otherwise(cost).alias("COSTO_NETO"),
        F.round(F.col("UnitSubTotal") - cost, 4).alias("UTILIDAD_TOTAL_NETA"),
    )


def transform_sales_payments(payments: DataFrame, credit_keys: DataFrame) -> DataFrame:
    """Payment transform (:142-168): fallback CCAuthCode, negate, dedup by PK.

    The reference's drop_duplicates(keep='first') trusts arrival order; here
    the winner per PaymentID is pinned by (SaleID, amount) ordering — any
    total order works because duplicate PaymentIDs carry identical payloads.
    """
    cols = payments.columns
    base = payments if "CCAuthCode" in cols else payments.withColumn("CCAuthCode", F.lit(""))
    flagged = flag_semi_join(base, credit_keys, ["SaleID"], "is_credit_note")
    neg = F.col("is_credit_note")
    out = flagged.select(
        F.col("PaymentID").alias("ID_VENTA_METODO_PAGO"),
        F.col("PaymentMethodID").alias("ID_METODO_PAGO"),
        F.col("SaleID").alias("ID_VENTA"),
        F.when(neg, -F.col("PaymentAmt")).otherwise(F.col("PaymentAmt")).alias("METODO_PAGO_MONTO"),
        F.col("PaymentsQty").alias("METODO_PAGO_CUOTAS"),
        F.when(neg, -F.col("RechargeAmt")).otherwise(F.col("RechargeAmt")).alias("METODO_PAGO_RECARGO"),
        F.col("CCAuthCode").alias("METODO_PAGO_CODIGO_AUTORIZACION"),
        F.col("MP_PaymentID"),
        F.col("MP_ExternalReference"),
    )
    return dedup_first(out, ["ID_VENTA_METODO_PAGO"],
                       [F.asc("ID_VENTA"), F.asc("METODO_PAGO_MONTO")])


def sales_document_tables(nested: DataFrame) -> dict[str, DataFrame]:
    """Full EP2: nested sales documents -> the three flat load tables.

    The reference's readResults Python loop (:251-275) is two explodes here.
    """
    headers = nested.drop("Items", "Payments")
    details = explode_children(nested, "Items")
    payments = explode_children(nested, "Payments")
    keys = credit_note_keys(headers)
    return {
        "VENTAS": transform_sales_header(headers),
        "CARGA_VENTAS_DETALLE": transform_sales_details(details, keys),
        "VENTAS_METODOS_PAGO": transform_sales_payments(payments, keys),
    }
