"""Sinks (SURVEY.md §2.2): overwrite/merge writers, quarantine, audit log."""

from etl_docker_spark.sinks.writers import audit_log_entry, overwrite_parquet

__all__ = ["audit_log_entry", "overwrite_parquet"]
