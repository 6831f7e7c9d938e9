"""MongoDB delete-protection guard (SURVEY.md K9).

The reference uses MongoDB only as an optional log sink with a CRUD helper
(Conectores_BD.py:152-222); its one engine-relevant behavior is the
delete-protection guard (refuse an unfiltered delete — :200-206).

The Spark path is the mongo-spark-connector, whose jars are not in this
container; the delete guard is engine logic and lives here regardless of
backend.
"""

from __future__ import annotations


class DeleteProtectionError(ValueError):
    """K9: refuse a collection-wide delete with an empty filter."""


def guard_delete_filter(query: dict | None) -> dict:
    """The reference's deleteProtecionException (Conectores_BD.py:200-206)."""
    if not query:
        raise DeleteProtectionError(
            "refusing delete with empty filter: this would clear the collection")
    return query
