"""JDBC sink edge (SURVEY.md K1, K2, K10).

The reference appends with chunked `to_sql` (Conectores_BD.py:105-113)
into a staging table and runs a server-side merge procedure around each
load (Conectores_BD.py:114-123). Here: the staged merge over Spark's
built-in JDBC relation, the dialect merge/upsert statement builders, and
driver-side statement execution. No driver jars ship in this
environment, so the I/O is gated; the statement builders are unit-tested.

The staging write uses `batchsize` (replacing the reference's ⌊2100/ncols⌋
chunk math, utils.py:40-46).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def execute_statement(url: str, sql: str,
                      properties: dict[str, str] | None = None) -> None:
    """K10: driver-side DDL / stored-procedure execution (EXEC name).

    The reference calls SINCRONIZACION_* / STAGING_TABLE_* procedures
    around each load (Conectores_BD.py:114-123). Spark's JDBC relation
    cannot issue statements, so this goes through a raw java.sql connection
    on the driver (no jars in this container — gated)."""
    try:
        from py4j.java_gateway import java_import
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("no active SparkSession")
        jvm = spark._jvm
        java_import(jvm, "java.sql.DriverManager")
        props = jvm.java.util.Properties()
        for k, v in (properties or {}).items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            stmt = conn.createStatement()
            stmt.execute(sql)
            stmt.close()
        finally:
            conn.close()
    except Exception as exc:
        raise NotImplementedError(
            f"JDBC statement execution needs a driver jar for {url!r} on the "
            "classpath (none ship in this container)") from exc


def _ident(name: str) -> str:
    """Reject identifiers that would break out of the generated statement.

    The reference interpolates table/column names straight into SQL text
    (CotyData_IPN.py:940-952); generated statements keep that shape but
    refuse anything that isn't a plain identifier."""
    if not name.replace("_", "").replace(".", "").isalnum() or not name:
        raise ValueError(f"not a plain SQL identifier: {name!r}")
    return name


def mysql_upsert_sql(target: str, staging: str, key_cols: list[str],
                     cols: list[str]) -> str:
    """MySQL upsert text, matching the reference's staging idiom byte-shape:
    INSERT INTO target (...) SELECT ... FROM staging ON DUPLICATE KEY
    UPDATE col = staging.col for every non-key column
    (CotyData_IPN.py:948 — CARGA_PROVEEDORES -> PROVEEDORES).

    Key columns drive the upsert via the target's PRIMARY KEY (MySQL
    resolves the duplicate against it); they appear in the column list but
    never in the UPDATE clause."""
    target, staging = _ident(target), _ident(staging)
    cols = [_ident(c) for c in cols]
    keys = {_ident(k) for k in key_cols}
    missing = keys - set(cols)
    if missing:
        raise ValueError(f"key columns not in cols: {sorted(missing)}")
    col_list = ", ".join(cols)
    updates = ", ".join(f"{c} = {staging}.{c}" for c in cols if c not in keys)
    if not updates:
        raise ValueError("all columns are keys; nothing to update")
    return (f"INSERT INTO {target} ({col_list}) "
            f"SELECT {col_list} FROM {staging} "
            f"ON DUPLICATE KEY UPDATE {updates}")


def sqlserver_merge_sql(target: str, staging: str, key_cols: list[str],
                        cols: list[str]) -> str:
    """SQL Server MERGE text for the SINCRONIZACION_* stored-proc contract
    (Conectores_BD.py:114-123 executes the proc; its body is not in the
    reference repo, so this re-specifies the observable effect: after the
    merge the target reflects the staging batch's latest state by PK)."""
    target, staging = _ident(target), _ident(staging)
    cols = [_ident(c) for c in cols]
    keys = [_ident(k) for k in key_cols]
    missing = set(keys) - set(cols)
    if missing:
        raise ValueError(f"key columns not in cols: {sorted(missing)}")
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    updates = ", ".join(f"t.{c} = s.{c}" for c in cols if c not in set(keys))
    if not updates:
        raise ValueError("all columns are keys; nothing to update")
    col_list = ", ".join(cols)
    values = ", ".join(f"s.{c}" for c in cols)
    return (f"MERGE INTO {target} AS t USING {staging} AS s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {updates} "
            f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({values});")


def staged_merge(df: DataFrame, url: str, staging_table: str,
                 merge_sql: str | None = None,
                 properties: dict[str, str] | None = None,
                 batchsize: int = 1000, *, target_table: str | None = None,
                 key_cols: list[str] | None = None,
                 dialect: str = "sqlserver") -> None:
    """K2: the reference's staging-table -> server-side merge idiom.

    1. overwrite the staging table with the batch (bulk append path);
    2. run ONE server-side MERGE statement (the SINCRONIZACION_* contract:
       final table reflects latest state by PK, triggers fire once).

    Pass explicit `merge_sql` text, or let it be generated from
    (`target_table`, `key_cols`, df.columns) per `dialect`
    ('sqlserver' MERGE / 'mysql' ON DUPLICATE KEY UPDATE)."""
    if merge_sql is None:
        if target_table is None or key_cols is None:
            raise ValueError("need merge_sql, or target_table + key_cols")
        gen = {"sqlserver": sqlserver_merge_sql, "mysql": mysql_upsert_sql}
        merge_sql = gen[dialect](target_table, staging_table, key_cols,
                                 list(df.columns))
    (df.write.format("jdbc").mode("overwrite")
       .option("url", url).option("dbtable", staging_table)
       .option("truncate", "true").option("batchsize", str(batchsize))
       .options(**(properties or {}))
       .save())
    execute_statement(url, merge_sql, properties)
