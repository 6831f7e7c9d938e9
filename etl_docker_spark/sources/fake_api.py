"""Deterministic fake endpoint fetchers (test/demo backends for the REST
source). Importable on executors by path — e.g.
`etl_docker_spark.sources.fake_api:fetch_items_windowed`.
"""

from __future__ import annotations

PAGE_SIZE = 3


# --------------------------------------------------------- windowed items
#
# Deterministic incremental feed for the EP3-shaped pipeline test
# (reference: CotyData_IPN.py:597-601 pulls created / modified / deleted
# windows separately with dd/MM/yyyy date filters). Eleven item records
# with audit dates spread over 2024-03-10..2024-03-14; the fetcher filters
# on params: field in {created, modified, deleted}, date_from, date_to
# (inclusive, ISO yyyy-mm-dd — serialization to the reference's dd/MM/yyyy
# wire format is the endpoint catalog's job, not the fake's).

_ITEM_FEED = [
    # (Id, Code, Description, created, modified, deleted)
    (1, "SKU-1", "alpha v1", "2024-03-10", "2024-03-10", None),
    (2, "SKU-2", "beta v1", "2024-03-10", "2024-03-10", None),
    (3, "SKU-3", "gamma v1", "2024-03-10", "2024-03-10", None),
    (4, "SKU-4", "delta v1", "2024-03-11", "2024-03-11", None),
    (2, "SKU-2", "beta v2", "2024-03-10", "2024-03-11", None),
    (5, "SKU-5", "eps v1", "2024-03-12", "2024-03-12", None),
    (3, "SKU-3", "gamma v2", "2024-03-10", "2024-03-12", None),
    (1, "SKU-1", "alpha v1", "2024-03-10", "2024-03-10", "2024-03-12"),
    (6, "SKU-6", "zeta v1", "2024-03-13", "2024-03-13", None),
    (2, "SKU-2", "beta v3", "2024-03-10", "2024-03-13", None),
    (4, "SKU-4", "delta v1", "2024-03-11", "2024-03-11", "2024-03-13"),
]

_FIELD_IDX = {"created": 3, "modified": 4, "deleted": 5}


def fetch_items_windowed(page: int, params: dict) -> list[dict]:
    """Windowed incremental endpoint with AS-OF semantics: for each item
    matching the window on `field`, return its latest state as of date_to
    (a real API queried on day D cannot serve a version from D+1 — the
    feed rows above are historical snapshots, so the fake must filter)."""
    field = params["field"]
    lo, hi = params["date_from"], params["date_to"]
    idx = _FIELD_IDX[field]
    ids = sorted({r[0] for r in _ITEM_FEED
                  if r[idx] is not None and lo <= r[idx] <= hi})
    out = []
    for i in ids:
        visible = [r for r in _ITEM_FEED
                   if r[0] == i and r[4] <= hi
                   and (r[5] is None or r[5] <= hi)]
        if not visible:
            continue
        r = max(visible, key=lambda v: (v[4], v[5] or ""))
        out.append({"Id": r[0], "Code": r[1], "Description": r[2],
                    "CreationDatetime": r[3], "ModificationDatetime": r[4],
                    "DeletionDatetime": r[5]})
    return out[page * PAGE_SIZE:(page + 1) * PAGE_SIZE]
