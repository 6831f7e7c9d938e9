"""Relational operators (SURVEY.md §2.3-2.7) as pure DataFrame->DataFrame fns."""

from etl_docker_spark.operators.conform import conform_schema
from etl_docker_spark.operators.dedup import dedup_first
from etl_docker_spark.operators.joins import anti_join, enrich, flag_semi_join, two_hop_enrich
from etl_docker_spark.operators.explode import explode_children
from etl_docker_spark.operators.graph import connected_components
from etl_docker_spark.operators.merge import merge_upsert, merge_upsert_path

__all__ = [
    "anti_join",
    "conform_schema",
    "connected_components",
    "dedup_first",
    "enrich",
    "explode_children",
    "flag_semi_join",
    "merge_upsert",
    "merge_upsert_path",
    "two_hop_enrich",
]
