"""Seeded JSONL fixtures for the nightly DAG (`jobs.build_tasks`), with the
truth the loaded warehouse is checked against.

`generate` writes two fixture directories holding the 7 entity files the DAG
reads:

- `full/`: every dimension plus `n_docs` nested sales documents with
  `Items`/`Payments`; a seeded share are credit notes, a few repeat a
  payment (the pipeline keeps one row per PaymentID);
- `window/`: the same dimensions plus the changed window of an incremental
  run: about 10% of the documents again with new quantities, costs and
  amounts (same detail and payment ids), and about 5% new documents.

The truth is computed here in plain Python from the generated records, so a
wrong transform, a lost row or a double merge shows up as a mismatch.
"""

from __future__ import annotations

import json
import os
import random

CREDIT_NOTE_TYPES = (8, 10, 11, 12, 17, 20, 27, 28, 29, 37, 38, 39, 43, 44, 45, 47)
SALE_TYPES = (1, 2, 3, 6, 9)
BLACKLIST = ((218, 8), (320, 9), (321, 10))   # (value id, attribute id), 'NO'
DIM_SIZES = {"families": 40, "categories": 200, "trademarks": 300,
             "attributes": 60, "suppliers": 500, "clients": 5000}


def _dims(rng: random.Random) -> dict[str, list[dict]]:
    n = DIM_SIZES
    families = [{"Id": i, "Name": f"Familia {i}"} for i in range(1, n["families"] + 1)]
    categories = [{"Id": i, "Name": f"Categoria {i}",
                   "ItemFamily": {"Id": rng.randint(1, n["families"])}}
                  for i in range(1, n["categories"] + 1)]
    trademarks = [{"Id": i, "Name": f"Marca {i}"} for i in range(1, n["trademarks"] + 1)]
    attributes = []
    value_id = 1000
    for i in range(1, n["attributes"] + 1):
        values = []
        for _ in range(rng.randint(0, 5)):
            value_id += 1
            values.append({"Id": value_id, "Value": f"V{value_id}"})
        attributes.append({"Id": i, "Name": f"Atributo {i}",
                           "AttributeCategory": {"Id": rng.randint(1, 9)},
                           "AttributeType": {"Id": rng.randint(1, 4)},
                           "IsRequired": rng.random() < 0.3,
                           "IsMandatory": rng.random() < 0.2,
                           "Values": values or None})
    for vid, aid in BLACKLIST:   # the rows the pipeline must drop
        attributes[aid - 1]["Values"] = (attributes[aid - 1]["Values"] or []) + [
            {"Id": vid, "Value": "NO"}, {"Id": vid + 1, "Value": "SI"}]
    suppliers = [{"Id": i, "SupplierFiscalName": f"Proveedor {i} SA",
                  "SupplierName": f"Prov {i}", "SupplierCode": f"IC{i}",
                  "Tax": {"IdentificationNumber": f"30-{i:08d}-1",
                          "TaxCondition": {"Id": rng.randint(1, 5)}},
                  "SupplierCompany": {"Id": rng.randint(1, 3)},
                  "SupplierType": {"Id": rng.randint(1, 6)},
                  "SupplierSubType": ({"Id": rng.randint(1, 9)}
                                      if rng.random() < 0.7 else None)}
                 for i in range(1, n["suppliers"] + 1)]
    clients = []
    for i in range(1, n["clients"] + 1):
        addresses = [{"Type": rng.choice(["fiscal_address", "delivery"]),
                      "ZipCode": str(rng.randint(1000, 9999)),
                      "City": f"Ciudad {rng.randint(1, 50)}",
                      "State": f"Provincia {rng.randint(1, 24)}"}
                     for _ in range(rng.randint(0, 3))]
        clients.append({"Id": i, "Code": f"C{i}", "BusinessName": f"Cliente {i}",
                        "Tax": ({"IdentificationNumber": f"20-{i:08d}-3"}
                                if rng.random() < 0.9 else None),
                        "PriceList": {"Id": rng.randint(1, 6)},
                        "CustomAttribute": {"Name": rng.choice(["VIP", "", None])},
                        "Audit": {"CreationDate": f"2024-0{rng.randint(1, 9)}-1"
                                                  f"{rng.randint(0, 9)}T10:00:00"},
                        "Addresses": addresses or None})
    return {"families": families, "categories": categories,
            "trademarks": trademarks, "attributes": attributes,
            "suppliers": suppliers, "clients": clients}


def _cents(rng: random.Random, lo: int, hi: int) -> float:
    return rng.randint(lo * 100, hi * 100) / 100


def _document(rng: random.Random, sale_id: int, n_clients: int) -> dict:
    kind = rng.random()
    inv_type = (rng.choice(CREDIT_NOTE_TYPES) if kind < 0.08
                else rng.choice(SALE_TYPES))
    items = []
    for j in range(rng.randint(1, 6)):
        qty = float(rng.randint(1, 12))
        price = _cents(rng, 1, 500)
        items.append({"DetailID": sale_id * 10 + j, "SaleID": sale_id,
                      "ItemID": rng.randint(1, 20000), "UnitPrice": price,
                      "UnitQty": qty, "UnitDiscount": 0.0,
                      "UnitSubTotal": round(price * qty, 2),
                      "UnitCost": _cents(rng, 1, 300)})
    neto = round(sum(i["UnitSubTotal"] for i in items), 2)
    total = round(neto * 1.21, 2)
    payments = []
    for j in range(rng.randint(1, 2)):
        payments.append({"PaymentID": sale_id * 10 + j,
                         "PaymentMethodID": rng.randint(1, 8), "SaleID": sale_id,
                         "PaymentAmt": _cents(rng, 1, 5000),
                         "PaymentsQty": rng.randint(1, 12), "RechargeAmt": 0.0,
                         "CCAuthCode": str(rng.randint(100000, 999999)),
                         "MP_PaymentID": None, "MP_ExternalReference": None})
    if rng.random() < 0.02:   # a redelivered payment: same PaymentID, same payload
        payments.append(dict(payments[0]))
    return {"SaleID": sale_id,
            "InvoiceNumberChr": f"{rng.randint(1, 20):04d}-{sale_id:08d}",
            "InvoiceType": inv_type, "CompanyID": rng.randint(1, 3),
            "StoreID": rng.randint(1, 40),
            "InvoiceDate": f"2024-03-{rng.randint(1, 28):02d}T"
                           f"{rng.randint(8, 21):02d}:{rng.randint(0, 59):02d}:00",
            "InvoiceTimeChr": None, "Neto": neto, "DiscountAmt": 0.0,
            "GeneralDiscountAmt": 0.0, "NetoFinal": neto,
            "IVAAmt": round(total - neto, 2), "RechargeAmt": 0.0,
            "InvoiceTotal": total,
            "CustomerCode": rng.choice([f"C{rng.randint(1, n_clients)}", ""]),
            "SalesOrderNumber": None, "Items": items, "Payments": payments}


def _changed(rng: random.Random, doc: dict) -> dict:
    """The same document re-sent with new quantities, costs and amounts."""
    new = json.loads(json.dumps(doc))
    for item in new["Items"]:
        item["UnitQty"] = float(rng.randint(1, 12))
        item["UnitCost"] = _cents(rng, 1, 300)
        item["UnitSubTotal"] = round(item["UnitPrice"] * item["UnitQty"], 2)
    amounts: dict[int, float] = {}   # a redelivered payment keeps its twin's amount
    for pay in new["Payments"]:
        pay["PaymentAmt"] = amounts.setdefault(pay["PaymentID"], _cents(rng, 1, 5000))
    new["Neto"] = new["NetoFinal"] = round(sum(i["UnitSubTotal"] for i in new["Items"]), 2)
    new["InvoiceTotal"] = round(new["Neto"] * 1.21, 2)
    new["IVAAmt"] = round(new["InvoiceTotal"] - new["Neto"], 2)
    return new


def sales_truth(docs: list[dict]) -> dict:
    """Row counts and signed totals of the three sales tables."""
    details = payments = 0
    qty = cost = paid = 0.0
    for d in docs:
        sign = -1.0 if d["InvoiceType"] in CREDIT_NOTE_TYPES else 1.0
        for i in d["Items"]:
            details += 1
            qty += sign * i["UnitQty"]
            cost += sign * i["UnitCost"] * i["UnitQty"]
        seen = set()
        for p in d["Payments"]:
            if p["PaymentID"] in seen:
                continue
            seen.add(p["PaymentID"])
            payments += 1
            paid += sign * p["PaymentAmt"]
    return {"VENTAS": len(docs), "CARGA_VENTAS_DETALLE": details,
            "VENTAS_METODOS_PAGO": payments,
            "detail_qty": qty, "detail_cost": cost, "payment_amt": paid}


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as fh:
        for row in rows:
            fh.write(json.dumps(row, separators=(",", ":")) + "\n")


def generate(out: str, seed: int, n_docs: int) -> dict:
    """Write `out/full` and `out/window`; returns the expected warehouse."""
    rng = random.Random(seed)
    dims = _dims(rng)
    docs = [_document(rng, sid, DIM_SIZES["clients"]) for sid in range(1, n_docs + 1)]
    updated = sorted(rng.sample(range(n_docs), n_docs // 10))
    window = [_changed(rng, docs[i]) for i in updated]
    window += [_document(rng, sid, DIM_SIZES["clients"])
               for sid in range(n_docs + 1, n_docs + 1 + n_docs // 20)]
    merged = {d["SaleID"]: d for d in docs}
    merged.update((d["SaleID"], d) for d in window)
    for name, sales in (("full", docs), ("window", window)):
        os.makedirs(os.path.join(out, name), exist_ok=True)
        for entity, rows in dims.items():
            _write_jsonl(os.path.join(out, name, f"{entity}.jsonl"), rows)
        _write_jsonl(os.path.join(out, name, "sales_documents.jsonl"), sales)
    attr_values = sum(len(a["Values"] or []) for a in dims["attributes"]) - len(BLACKLIST)
    dim_rows = {"ARTICULO_FAMILIA": len(dims["families"]),
                "ARTICULO_CATEGORIA": len(dims["categories"]),
                "MARCAS": len(dims["trademarks"]),
                "ATRIBUTOS": len(dims["attributes"]),
                "ATRIBUTOS_VALORES": attr_values,
                "CARGA_PROVEEDORES": len(dims["suppliers"]),
                "CLIENTES": len(dims["clients"])}
    window_truth = sales_truth(window)
    return {"full": sales_truth(docs), "merged": sales_truth(list(merged.values())),
            "dims": dim_rows,
            "changed_rows": sum(window_truth[t] for t in
                                ("VENTAS", "CARGA_VENTAS_DETALLE", "VENTAS_METODOS_PAGO"))}
