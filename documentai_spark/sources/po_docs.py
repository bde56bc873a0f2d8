"""Deterministic synthetic purchase-order corpus (committed fixture).

Shape mirrors the OCR text the reference's PurchaseOrderExtractor parses
(entity_extraction_updated/extractor/purchase_order.py:5-85): SELLER /
BUYER blocks, ``PO NUMBER ... DATED dd.mm.yyyy``, DESCRIPTION OF GOODS up
to PARTIAL SHIPMENT, quantity with unit, currency total, INCOTERMS
delivery line. Field presence/absence and the seller-block PO-NUMBER
shadow line vary by doc_id so every extractor branch (including the
line-skip rule and the missing-DATED -> empty po_number path) is
exercised; everything is a pure function of (seed, doc_id).
"""

from __future__ import annotations

import hashlib


def _h(seed: int, i: int, tag: str) -> int:
    return int.from_bytes(
        hashlib.md5(f"{seed}|{i}|{tag}".encode()).digest()[:8], "big")


def gen_po_text(doc_id: int, seed: int = 23) -> str:
    h = lambda tag: _h(seed, doc_id, tag)  # noqa: E731
    sellers = ["ACME TRADING FZE", "ORIENT METALS DMCC", "NILE AGRO CO",
               "BALTIC TIMBER OU"]
    cities = ["JEBEL ALI", "DEIRA", "HAMRIYAH"]
    goods = ["HOT ROLLED STEEL COILS", "WHITE REFINED SUGAR ICUMSA 45",
             "PORTLAND CEMENT TYPE I", "COPPER CATHODES GRADE A"]
    places = ["DJIBOUTI SEAPORT", "MOMBASA PORT", "KARACHI PORT"]
    units = ["MT", "KG", "TON", "PCS"]
    curs = ["USD", "EUR", "INR", "GBP"]

    lines = ["PURCHASE ORDER", "SELLER", sellers[h("s") % 4],
             f"PO BOX {1000 + h('sb') % 9000}"]
    if doc_id % 3 == 0:
        # shadow line inside the seller block: the extractor must skip it
        # (purchase_order.py:29-31); every third doc gets one, half of
        # them indented (the reference's startswith check is on the RAW
        # line, so indented shadows are NOT skipped — pinned behavior)
        shadow = f"PO NUMBER REF {h('sh') % 100}"
        lines.append("  " + shadow if doc_id % 6 == 0 else shadow)
    lines += ["BUYER", f"GULF IMPORTS LLC {h('b') % 50}",
              cities[h("c") % 3], "UNITED ARAB EMIRATES"]
    po_no = f"PO/{2000 + doc_id}/{chr(65 + h('a') % 26)}"
    if doc_id % 11 == 0:
        # no DATED -> po_number AND po_date both come back empty
        lines.append(f"PO NUMBER: {po_no}")
    else:
        d = f"{h('d') % 28 + 1:02d}.{h('m') % 12 + 1:02d}.202{h('y') % 6}"
        lines.append(f"PO NUMBER: {po_no} DATED {d}")
    lines += ["DESCRIPTION OF GOODS", goods[h("g") % 4]]
    if doc_id % 4 == 0:
        lines.append(f"PACKED IN BUNDLES OF {h('p') % 9 + 1}")
    lines.append("PARTIAL SHIPMENT ALLOWED" if doc_id % 5
                 else "TRANSHIPMENT NOT ALLOWED")
    if doc_id % 17 != 0:
        lines.append(f"QUANTITY {h('q') % 900 + 100:d},"
                     f"{h('q2') % 900 + 100:03d} {units[h('u') % 4]}")
    lines.append(f"TOTAL {curs[h('cu') % 4]} "
                 f"{h('v') % 900 + 100:d},{h('v2') % 900 + 100:03d}."
                 f"{h('v3') % 100:02d}")
    if doc_id % 13 != 0:
        inco = ["CFR", "CIF", "FOB", "DAP", "EXW"][h("i") % 5]
        suffix = " (INCOTERMS 2020)" if doc_id % 2 else ""
        lines.append(f"{inco} {places[h('pl') % 3]}{suffix}")
    return "\n".join(lines)

