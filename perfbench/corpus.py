"""Seeded generator for the ``ingest`` workload's document corpus.

Each batch is a directory of real files the pipeline scans:

- text-layer ``%PDF-`` files (one page, FlateDecode content stream, Type1
  font), which ``sources/pdf_text.py`` parses;
- PNG receipt scans rendered with ``sources.ocr.render_text_image``.

The doc-type mix follows the reference corpus: the fresh documents of a
batch are one invoice, one image receipt and NC DOT documents of the five
NC types (drawn uniformly, in letting-date directories) - about 94 % NC,
3 % invoices and 3 % receipts at the benchmark's batch size. A fifth of
every batch after the first re-sends documents of earlier batches (same
bytes, new path), at least one of them an invoice, so the sink's anti-join
both keeps rows and drops them.

Every document carries its ground truth in a manifest entry: doc type,
contract ids, invoice key and total, and the record count the reference
parser semantics give for it.
"""

from __future__ import annotations

import os
import random
import zlib
from dataclasses import dataclass, field

import numpy as np

NC_TYPES = (
    "nc_award_letter",
    "nc_bid_tabs",
    "nc_bids_as_read",
    "nc_item_c",
    "nc_invitation_to_bid",
)
RESEND_FRAC = 0.2

_COUNTIES = ["CRAVEN", "WAKE", "DARE", "PITT", "ONSLOW", "BUNCOMBE", "HYDE", "UNION"]
_WORK = ["WORK BARGE DRYDOCK", "RESURFACING", "BRIDGE REHAB", "GUARDRAIL", "CULVERT REPAIR"]
_BIDDERS = [
    "LYON SHIPYARD INC",
    "COLONNAS SHIPYARD INC",
    "BARNHILL CONTRACTING CO",
    "FRED SMITH COMPANY",
    "S T WOOTEN CORPORATION",
    "TRIANGLE GRADING AND PAVING INC",
    "BLYTHE CONSTRUCTION INC",
]
_CITIES = ["NORFOLK, VA", "ROCKY MOUNT, NC", "RALEIGH, NC", "WILSON, NC", "CHARLOTTE, NC"]
_ITEMS = ["GENERIC MISCELLANEOUS ITEM", "GENERIC FERRY ITEM", "ASPHALT CONC SURFACE", "SILT FENCE"]
_SUPPLIERS = [("Acme", "Computers"), ("Pyedrain", "Plumbing"), ("Delta", "Office Supply"),
              ("Nimbus", "Hardware"), ("Orbit", "Electronics")]
_GOODS = ["Digi Mouse Wireless", "RAM Module", "Mech Keyboard TKL", "Copy Paper Ream",
          "Stapler Heavy Duty", "Monitor Stand", "USB Hub", "Desk Lamp"]
_SHOPS = ["ACME HARDWARE LTD", "MR DIY SDN BHD", "CITY MART", "QUICK STOP"]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_MONTHS_LONG = ["January", "February", "March", "April", "May", "June", "July", "August",
                "September", "October", "November", "December"]


@dataclass
class Doc:
    """One generated document and its ground truth."""

    relpath: str  # under the batch directory
    doc_type: str
    data: bytes
    contract_ids: list[str] = field(default_factory=list)
    invoice_key: tuple[str, str] | None = None  # (invoice_number, supplier_name)
    total_amount: float | None = None
    records: int = 0  # records the reference parser semantics give
    resent: bool = False


def _money(x: float) -> str:
    return f"{x:,.2f}"


def pdf_bytes(lines: list[str]) -> bytes:
    """A one-page PDF whose text layer is ``lines``, top to bottom."""

    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

    ops = ["BT", "/F1 10 Tf"]
    y = 780
    for line in lines:
        ops.append(f"1 0 0 1 40 {y} Tm ({esc(line)}) Tj")
        y -= 14
    ops.append("ET")
    content = zlib.compress("\n".join(ops).encode("cp1252"))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 %d] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>" % max(792, 14 * len(lines) + 60),
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content) + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (len(objs) + 1, xref)
    return bytes(out)


def png_bytes(lines: list[str]) -> bytes:
    """A receipt scan: ``lines`` rendered in the OCR font, as a PNG."""
    from pdf_etl_pipeline_spark.llmdata.multimodal import encode_png
    from pdf_etl_pipeline_spark.sources.ocr import render_text_image

    img = (render_text_image([ln.upper() for ln in lines], line_gap=8) * 255).astype(np.uint8)
    return encode_png(img, filters="none")


class CorpusGenerator:
    """Deterministic batches for one seed: batch ``k`` depends only on the
    seed and on batches ``0..k-1`` (for re-sends)."""

    def __init__(self, seed: int, batch_docs: int):
        self.seed = seed
        self.batch_docs = batch_docs
        self.sent: list[Doc] = []
        self._serial = 0

    def _contract(self) -> str:
        self._serial += 1
        return f"DA{(self.seed * 7919 + self._serial) % 90000 + 10000:05d}"

    def _date(self, rng: random.Random) -> tuple[int, int, int]:
        return 2023, rng.randint(1, 12), rng.randint(1, 28)

    def _award(self, rng, c):
        y, m, d = self._date(rng)
        amount = rng.uniform(1e5, 9e6)
        lines = [
            "STATE OF NORTH CAROLINA",
            "DEPARTMENT OF TRANSPORTATION",
            "NOTIFICATION OF AWARD",
            f"Contract No. {c}",
            "Federal Aid No.: State Funded",
            f"County: {rng.choice(_COUNTIES).title()}",
            f"Description: {rng.choice(_WORK).title()}",
            f"I am pleased to inform you that {rng.choice(_BIDDERS).title()} has been awarded the contract",
            f"for the above project based on the bid submitted on {_MONTHS_LONG[m - 1]} {d}, {y} in the amount of",
            f"${_money(amount)}.",
        ]
        return lines, [c], 1

    def _invitation(self, rng, c):
        y, m, d = self._date(rng)
        lines = [
            "STATE OF NORTH CAROLINA",
            "DEPARTMENT OF TRANSPORTATION",
            "NOTICE TO PROSPECTIVE BIDDERS",
            "The Department of Transportation is requesting bids for the following project in Division One:",
            f"{c} - {rng.choice(_WORK).title()}, in {rng.choice(_COUNTIES).title()} County",
            f"The Date of Availability for this Contract is {_MONTHS_LONG[m - 1]} {d}, {y}",
            f"The Completion Date for this Contract is {_MONTHS_LONG[(m + 3) % 12]} {d}, {y + 1}",
            f"Bid Opening will be held on {_MONTHS_LONG[m - 1]} {d}, {y}",
        ]
        return lines, [c], 1

    def _bids_as_read(self, rng, c):
        y, m, d = self._date(rng)
        bidders = rng.sample(_BIDDERS, rng.randint(1, 4))
        lines = [
            "CONTRACT BIDS AS READ",
            f"Bid Opening {m}/{d}/{y}",
            "Time 2:00 PM",
            f"Contract {c}",
            f"Description: {rng.choice(_WORK).title()}",
            "CONTRACTOR AMOUNT BID",
        ]
        lines += [f"{b} {_money(rng.uniform(1e5, 9e6))}" for b in bidders]
        lines += [f"ENGINEERS ESTIMATE ${_money(rng.uniform(1e5, 9e6))}",
                  f"TOTAL BIDS RECEIVED: ({len(bidders)})"]
        return lines, [c], len(bidders)

    def _bid_tabs(self, rng, c):
        y, m, d = self._date(rng)
        vendors = rng.sample(_BIDDERS, rng.randint(1, 3))
        n_items = rng.randint(1, 6)
        lines = [
            "NORTH CAROLINA DEPARTMENT OF TRANSPORTATION",
            "BID TABULATION",
            f"Letting Date: {_MONTHS[m - 1]} {d}, {y}",
            f"Contract: {c}",
            f"Call Number: {rng.randint(1, 99):03d}",
            "FED AID: State Funded",
            f"Counties: {rng.choice(_COUNTIES)}",
        ] + vendors
        for i in range(n_items):
            qty = rng.randint(1, 40)
            pairs = []
            for _ in vendors:
                price = rng.uniform(10, 900)
                pairs += [_money(price), _money(price * qty)]
            lines.append(
                f"{i + 1:04d} {rng.randint(10**9, 10**10 - 1):010d}-N SP "
                f"{rng.choice(_ITEMS)} (DAY) {qty} {' '.join(pairs)} DAY"
            )
        return lines, [c], n_items * len(vendors)

    def _item_c(self, rng, c):
        blocks = [c] + [self._contract() for _ in range(rng.randint(0, 2))]
        lines: list[str] = []
        records = 0
        for b in blocks:
            est = rng.uniform(1e5, 9e6)
            vendors = rng.sample(_BIDDERS, rng.randint(1, 3))
            lines += [
                b,
                f"{rng.randint(10, 99)}.{rng.randint(10000, 99999)}",
                "STATE FUNDED",
                rng.choice(_COUNTIES),
                f"TYPE OF WORK {rng.choice(_WORK)}",
                "LOCATION NCDOT - DIVISION ONE",
                f"ESTIMATE {_money(est)}",
                "$ TOTALS % DIFF",
            ]
            for v in vendors:
                bid = est * rng.uniform(0.6, 1.3)
                lines.append(f"{v}  {rng.choice(_CITIES)} {_money(bid)} {100 * (bid / est - 1):.1f}")
            lines.append(f"ESTIMATE TOTAL {_money(est)}")
            records += len(vendors)
        return lines, blocks, records

    _NC_KINDS = {
        "nc_award_letter": ("award letter {c}.pdf", _award),
        "nc_invitation_to_bid": ("invitation to bid {c}.pdf", _invitation),
        "nc_bids_as_read": ("bids as read {c}.pdf", _bids_as_read),
        "nc_bid_tabs": ("bid tabs {c}.pdf", _bid_tabs),
        "nc_item_c": ("item c {c}.pdf", _item_c),
    }

    def _nc(self, rng: random.Random, doc_type: str) -> Doc:
        name, build = self._NC_KINDS[doc_type]
        c = self._contract()
        lines, ids, records = build(self, rng, c)
        y, m, d = self._date(rng)
        rel = f"2023-nc-d1/{y}-{m:02d}-{d:02d}_nc_d1/{name.format(c=c)}"
        return Doc(rel, doc_type, pdf_bytes(lines), contract_ids=ids, records=records)

    def _invoice(self, rng: random.Random) -> Doc:
        self._serial += 1
        first, second = rng.choice(_SUPPLIERS)
        number = str(self.seed % 1000 * 100000 + self._serial)
        y, m, d = self._date(rng)
        items = []
        for i, good in enumerate(rng.sample(_GOODS, rng.randint(1, 4)), 1):
            qty = rng.randint(1, 9)
            price = round(rng.uniform(5, 900), 2)
            items.append(f"{i:02d}. {good} {qty} {price:.2f} {qty * price:.2f}")
        subtotal = round(sum(float(it.rsplit(" ", 1)[1]) for it in items), 2)
        tax = round(subtotal * 0.08, 2)
        total = round(subtotal + tax, 2)
        lines = [
            first,
            second,
            "2481 Felosa Drive",
            f"TIN: {rng.randint(10**10, 10**11 - 1)}",
            "Bill to: M/s: Mirtha M. Reeve",
            f"TIN: {rng.randint(10**10, 10**11 - 1)}",
            "INVOICE",
            f"Invoice # {number}",
            f"Invoice Date: {_MONTHS[m - 1]} {d}, {y}",
            f"Due Date: {_MONTHS[m % 12]} {d}, {y + (m == 12)}",
            "ID DESCRIPTION QTY PRICE TOTAL",
            *items,
            f"Sub Total {subtotal:.2f}",
            f"GST 8% {tax:.2f}",
            f"Total {total:.2f}",
        ]
        return Doc(
            f"company-B/raw/invoice {number}.pdf",
            "invoice",
            pdf_bytes(lines),
            invoice_key=(number, f"{first} {second}"),
            total_amount=total,
            records=len(items),
        )

    def _receipt(self, rng: random.Random) -> Doc:
        self._serial += 1
        y, m, d = self._date(rng)
        qty, price = rng.randint(1, 5), rng.randint(1, 99)
        lines = [
            rng.choice(_SHOPS),
            "12 STATION ROAD",
            f"{rng.randint(10**6, 10**7 - 1)} {qty} X {price}.00 {qty * price}.00",
            f"TOTAL {qty * price}.00",
            f"{d:02d}-{m:02d}-{y % 100:02d} 10:11",
        ]
        return Doc(f"company-A/raw/receipt {self._serial}.png", "receipt", png_bytes(lines), records=1)

    def batch(self, k: int) -> list[Doc]:
        """Batch ``k``: fresh documents plus re-sends of earlier ones. Call
        with k = 0, 1, 2, ... in order."""
        rng = random.Random(f"{self.seed}:{k}")
        n_resend = int(self.batch_docs * RESEND_FRAC) if self.sent else 0
        docs = [self._invoice(rng), self._receipt(rng)]
        docs += [self._nc(rng, rng.choice(NC_TYPES)) for _ in range(self.batch_docs - n_resend - 2)]
        earlier = list(self.sent)
        invoices = [d for d in earlier if d.doc_type == "invoice"]
        picks = rng.sample(earlier, min(n_resend, len(earlier)))
        if picks and invoices and not any(d.doc_type == "invoice" for d in picks):
            picks[0] = rng.choice(invoices)  # every re-send share holds an invoice
        for d in picks:
            docs.append(
                Doc(f"resent-{k}/{d.relpath}", d.doc_type, d.data, d.contract_ids,
                    d.invoice_key, d.total_amount, d.records, resent=True)
            )
        self.sent.extend(d for d in docs if not d.resent)
        return docs


def write_batch(docs: list[Doc], batch_dir: str) -> int:
    """Write a batch's files; returns total bytes written."""
    total = 0
    for d in docs:
        path = os.path.join(batch_dir, d.relpath)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(d.data)
        total += len(d.data)
    return total
