"""The engine's job runner — the deployment analog of the reference's
Airflow DAG (dag_maestros.py), runnable as a module:

    python -m etl_docker_spark.jobs --fixtures <dir> --warehouse <dir>

Reads entity JSONL files (schema-on-read with the declared StructTypes),
runs the master-data + documents DAG (independent tasks at the same time,
each after its declared dependencies) with per-task error isolation and
audit logging, and writes warehouse parquet tables.
`--make-demo-fixtures` materializes a small self-contained input set so the
runner can be exercised anywhere.
"""

from __future__ import annotations

import argparse
import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession

from etl_docker_spark import schemas
from etl_docker_spark.orchestration import (JobContext, Task, run_concurrently,
                                             run_dag)
from etl_docker_spark.pipelines import master_data as md
from etl_docker_spark.pipelines import sales_documents as sd
from etl_docker_spark.pipelines.customers import transform_clients_v2
from etl_docker_spark.session import get_spark
from etl_docker_spark.sinks.writers import overwrite_parquet

ENTITY_SCHEMAS = {
    "families": schemas.FAMILY,
    "categories": schemas.CATEGORY,
    "trademarks": schemas.TRADEMARK,
    "attributes": schemas.ATTRIBUTE,
    "suppliers": schemas.SUPPLIER,
    "clients": schemas.CUSTOMER_V2,
    "sales_documents": schemas.SALES_DOCUMENT,
}


def _read(spark: SparkSession, fixtures: str, entity: str) -> DataFrame:
    return spark.read.schema(ENTITY_SCHEMAS[entity]).json(
        os.path.join(fixtures, f"{entity}.jsonl"))


def _write(ctx: JobContext, name: str, df: DataFrame) -> int:
    return overwrite_parquet(df, f"{ctx.warehouse}/{name}")


def build_tasks(spark: SparkSession, fixtures: str,
                incremental: bool = False) -> list[Task]:
    """The DAG: the dims in the reference's order, and the documents.

    Only categories declares a dependency (on families, whose codes its
    rows carry); every other task starts at once. `sales_documents`
    declares none because its pipeline reads no dimension table, so it
    runs beside the dims.

    `incremental=True` MERGES sales documents by PK instead of overwriting
    — re-running the same window is a no-op (the K2 staging/proc contract).
    """

    def task(name: str, fn) -> Task:
        return Task(name, fn, retries=1, retry_delay_s=0.5)

    def load_families(ctx):
        return _write(ctx, "ARTICULO_FAMILIA",
                      md.transform_families(_read(spark, fixtures, "families")))

    def load_categories(ctx):
        return _write(ctx, "ARTICULO_CATEGORIA",
                      md.transform_categories(_read(spark, fixtures, "categories")))

    def load_trademarks(ctx):
        return _write(ctx, "MARCAS",
                      md.transform_trademarks(_read(spark, fixtures, "trademarks")))

    def load_attributes(ctx):
        attrs = _read(spark, fixtures, "attributes")
        n = _write(ctx, "ATRIBUTOS", md.transform_attributes(attrs))
        n += _write(ctx, "ATRIBUTOS_VALORES", md.transform_attribute_values(attrs))
        return n

    def load_suppliers(ctx):
        return _write(ctx, "CARGA_PROVEEDORES",
                      md.transform_suppliers(_read(spark, fixtures, "suppliers")))

    def load_clients(ctx):
        return _write(ctx, "CLIENTES",
                      transform_clients_v2(_read(spark, fixtures, "clients"),
                                           razon_social=1))

    def load_sales(ctx):
        """Write, or merge, the three sales tables at the same time
        (`run_concurrently`); returns their summed rows.

        A table that fails does not stop the other two from being
        written; the task then fails with the first table's error, and its
        retry rewrites all three. That is safe because an overwrite and
        `merge_upsert_path` are both idempotent on replay.
        """
        tables = sd.sales_document_tables(_read(spark, fixtures, "sales_documents"))
        if incremental:
            # the staging+proc contract: latest state by PK, idempotent replay
            from etl_docker_spark.operators.merge import merge_upsert_path

            keys = {"VENTAS": ["ID_VENTA"],
                    "CARGA_VENTAS_DETALLE": ["ID_VENTA_FILA"],
                    "VENTAS_METODOS_PAGO": ["ID_VENTA_METODO_PAGO"]}
            writes = [functools.partial(merge_upsert_path, spark,
                                        f"{ctx.warehouse}/{name}", df, keys[name])
                      for name, df in tables.items()]
        else:
            writes = [functools.partial(_write, ctx, name, df)
                      for name, df in tables.items()]
        return sum(run_concurrently(spark, writes))

    t_fam = task("families", load_families)
    t_cat = Task("categories", load_categories, retries=1, retry_delay_s=0.5,
                 depends_on=("families",))
    return [
        t_fam,
        t_cat,
        task("trademarks", load_trademarks),
        task("attributes", load_attributes),
        task("suppliers", load_suppliers),
        task("clients", load_clients),
        task("sales_documents", load_sales),
    ]


DEMO = {
    "families": [{"Id": 1, "Name": "Bebidas"}, {"Id": 2, "Name": "Limpieza"}],
    "categories": [{"Id": 10, "Name": "Gaseosas", "ItemFamily": {"Id": 1}}],
    "trademarks": [{"Id": 5, "Name": "MarcaA"}],
    "attributes": [{"Id": 8, "Name": "Color", "AttributeCategory": {"Id": 1},
                    "AttributeType": {"Id": 2}, "IsRequired": True,
                    "IsMandatory": False,
                    "Values": [{"Id": 218, "Value": "NO"}, {"Id": 300, "Value": "Rojo"}]}],
    "suppliers": [{"Id": 7, "SupplierFiscalName": "Prov SA", "SupplierName": "Prov",
                   "SupplierCode": "IC7",
                   "Tax": {"IdentificationNumber": "30-7", "TaxCondition": {"Id": 1}},
                   "SupplierCompany": {"Id": 1}, "SupplierType": {"Id": 2},
                   "SupplierSubType": None}],
    "clients": [{"Id": 1, "Code": "C1", "BusinessName": "ACME",
                 "Tax": {"IdentificationNumber": "20-1"}, "PriceList": {"Id": 4},
                 "CustomAttribute": {"Name": "VIP"},
                 "Audit": {"CreationDate": "2024-01-05T10:00:00"},
                 "Addresses": [{"Type": "fiscal_address", "ZipCode": "1425",
                                "City": "CABA", "State": "BA"}]}],
    "sales_documents": [
        {"SaleID": 1, "InvoiceNumberChr": "0001-00000001", "InvoiceType": 1,
         "CompanyID": 1, "StoreID": 1, "InvoiceDate": "2024-03-01T10:00:00",
         "Neto": 100.0, "DiscountAmt": 5.0, "GeneralDiscountAmt": 0.0,
         "NetoFinal": 95.0, "IVAAmt": 19.95, "RechargeAmt": 0.0,
         "InvoiceTotal": 114.95, "CustomerCode": "C1",
         "Items": [{"DetailID": 1, "SaleID": 1, "ItemID": 9, "UnitPrice": 50.0,
                    "UnitQty": 2.0, "UnitDiscount": 0.0, "UnitSubTotal": 100.0,
                    "UnitCost": 30.0}],
         "Payments": [{"PaymentID": 1, "PaymentMethodID": 1, "SaleID": 1,
                       "PaymentAmt": 114.95, "PaymentsQty": 1, "RechargeAmt": 0.0,
                       "CCAuthCode": ""}]},
    ],
}


def make_demo_fixtures(path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for entity, rows in DEMO.items():
        with open(os.path.join(path, f"{entity}.jsonl"), "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--make-demo-fixtures", action="store_true")
    ap.add_argument("--incremental", action="store_true",
                    help="merge documents by PK instead of overwriting")
    args = ap.parse_args()

    if args.make_demo_fixtures:
        make_demo_fixtures(args.fixtures)

    spark = get_spark("etl_docker_spark.jobs")
    ctx = JobContext(spark, args.warehouse, f"{args.warehouse}/_etl_log",
                     f"{args.warehouse}/_quarantine")
    status = run_dag(ctx, build_tasks(spark, args.fixtures, args.incremental))
    print(json.dumps({"status": status}))
    spark.stop()
    return 0 if all(v == "ok" for v in status.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
