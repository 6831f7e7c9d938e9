"""Scalar column-expression library (SURVEY.md §2.8, F1-F24).

Every transform the reference implements as a pandas lambda / `.apply` is
re-expressed here as a pure Spark Column expression — JVM-side, inside
whole-stage codegen, zero Python UDFs.
"""

from etl_docker_spark.functions.strings import (
    concat_sep,
    empty_to_null,
    prefix_pad_unless_contains,
    remap_values,
    split_into,
)
from etl_docker_spark.functions.dates import (
    date_window,
    format_sqlserver_datetime,
    iso_date_part,
    parse_date_dmy,
    parse_ts_iso,
    parse_ts_mixed,
)
from etl_docker_spark.functions.amounts import (
    conditional_negate,
    deleted_flag,
    fiscal_profit,
)
from etl_docker_spark.functions.nested import (
    fiscal_address_field,
    struct_field_or,
)

__all__ = [
    "concat_sep",
    "conditional_negate",
    "date_window",
    "deleted_flag",
    "empty_to_null",
    "fiscal_address_field",
    "fiscal_profit",
    "format_sqlserver_datetime",
    "iso_date_part",
    "parse_date_dmy",
    "parse_ts_iso",
    "parse_ts_mixed",
    "prefix_pad_unless_contains",
    "remap_values",
    "split_into",
    "struct_field_or",
]
