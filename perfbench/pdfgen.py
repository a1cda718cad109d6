"""Seeded text-layer PDF corpus for the ``invoice_ingest`` workload.

Each document is a real one-page ``%PDF-`` file: a catalog, a page tree,
one Helvetica font and one FlateDecode content stream of ``Tj`` lines.
Most documents are invoices with 1-12 line items; a seeded minority are
NC DOT award letters, bid tabulations, item-C reports and invitations
to bid, shaped after ``parsers/fixtures.py``.

Each batch also re-sends a seeded share of ``(invoice_number,
supplier_name)`` keys that earlier batches already delivered, in a new
file with new content, so the sink's anti-join must drop them.

The ground truth (which keys are new, and their totals) stays in the
returned ``Batch`` objects and is never written next to the PDFs. The
first document of every batch is read back through the package's own
text-layer extractor; a mismatch is kept in ``roundtrip_failures``.
"""

from __future__ import annotations

import os
import random
import zlib
from dataclasses import dataclass, field

DUP_SHARE = 0.2  # share of a batch's invoices that re-send an earlier key
NC_SHARE = 0.1  # share of a batch's documents that are NC DOT documents

_SUPPLIERS = [
    ("Acme", "Office Supply Ltd"), ("J.K.", "Computers"), ("Northwind", "Traders Inc"),
    ("Blue Ridge", "Hardware Co"), ("Pyedrain", "Plumbing LLC"), ("Summit", "Paper Goods"),
    ("Keystone", "Electric Supply"), ("Harbor", "Freight Lines"), ("Granite", "Tool Works"),
    ("Cedar", "Print Shop"), ("Lakeside", "Janitorial"), ("Pioneer", "Data Systems"),
]
_CLIENTS = ["Wayne Enterprises", "Mirtha M. Reeve", "Stark Industries", "Umbrella Corp",
            "Initech", "Globex Corporation", "Hooli", "Vandelay Industries"]
_ITEMS = ["Copy Paper A4 500 Sheets", "Stapler Heavy Duty", "AX-1000 Digi Mouse Wireless",
          "HI116XC16 16GB RAM", "Mech Keyboard TKL", "Drain Snake Rental", "USB-C Hub 7 Port",
          "Toner Cartridge Black", "Desk Lamp LED", "Cable Ties 100 Pack", "Monitor Arm Dual",
          "Label Printer Tape", "Whiteboard Markers", "Ethernet Cable 10m"]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_COUNTIES = ["Craven", "Wake", "Bertie", "Dare", "Pitt", "Onslow"]
_VENDORS = ["LYON SHIPYARD INC", "COLONNAS SHIPYARD INC", "BARNHILL CONTRACTING CO",
            "FRED SMITH COMPANY", "S T WOOTEN CORPORATION"]
_NC_KINDS = ["award letter", "bid tabs", "item c", "invitation to bid"]


@dataclass
class Batch:
    """One generated batch directory and what ingesting it must yield."""

    path: str
    n_docs: int
    new_keys: list[tuple[str, str]] = field(default_factory=list)
    new_total: float = 0.0  # sum of total_amount over the new invoice keys
    has_nc: bool = False  # NC docs carry null keys: they add one sink row per batch

    @property
    def expected_inserted(self) -> int:
        return len(self.new_keys) + (1 if self.has_nc else 0)


def _esc(s: str) -> bytes:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)").encode("cp1252")


def pdf_bytes(lines: list[str]) -> bytes:
    """A one-page PDF whose text layer is ``lines``, one baseline each."""
    ops = [b"BT /F1 10 Tf 14 TL 50 760 Td"]
    for line in lines:
        ops.append(b"(" + _esc(line) + b") Tj T*")
    ops.append(b"ET")
    stream = zlib.compress(b"\n".join(ops))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(stream)).encode() + b" /Filter /FlateDecode >>\nstream\n"
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer << /Size " + str(len(objs) + 1).encode() + b" /Root 1 0 R >>\n"
    out += b"startxref\n" + str(xref).encode() + b"\n%%EOF\n"
    return bytes(out)


def _money(x: float) -> str:
    return f"{x:.2f}"


def _invoice(rng: random.Random, number: int, supplier: tuple[str, str]) -> tuple[list[str], float]:
    items = []
    for i in range(rng.randint(1, 12)):
        qty = rng.randint(1, 20)
        price = rng.randint(100, 90000) / 100
        items.append((i + 1, rng.choice(_ITEMS), qty, price, round(qty * price, 2)))
    sub = round(sum(t for *_, t in items), 2)
    rate = rng.choice([5, 6, 8])
    tax = round(sub * rate / 100, 2)
    total = round(sub + tax, 2)
    y, m, d = rng.randint(2019, 2023), rng.randint(1, 12), rng.randint(1, 28)
    lines = [
        supplier[0],
        supplier[1],
        f"{rng.randint(10, 9999)} Market Street",
        f"TIN: {rng.randint(10**10, 10**11 - 1)}",
        f"Bill to: {rng.choice(_CLIENTS)}",
        f"TIN: {rng.randint(10**10, 10**11 - 1)}",
        "INVOICE",
        f"Invoice # {number}",
        f"Invoice Date: {_MONTHS[m - 1]} {d}, {y}",
        f"Due Date: {_MONTHS[m % 12]} {d}, {y + (m == 12)}",
        "ID DESCRIPTION QTY PRICE TOTAL",
    ]
    lines += [f"{i:02d}. {desc} {q} {_money(p)} {_money(t)}" for i, desc, q, p, t in items]
    lines += [f"Sub Total {_money(sub)}", f"GST {rate}% {_money(tax)}", f"Total {_money(total)}"]
    return lines, total


def _nc_doc(rng: random.Random, kind: str) -> list[str]:
    contract = f"DA{rng.randint(10000, 99999)}"
    county = rng.choice(_COUNTIES)
    vendors = rng.sample(_VENDORS, 2)
    amount = f"{rng.randint(100000, 9999999):,}.00"
    if kind == "award letter":
        return ["STATE OF NORTH CAROLINA", "DEPARTMENT OF TRANSPORTATION", "NOTIFICATION OF AWARD",
                f"Contract No.     {contract}", "Federal Aid No.: State Funded",
                f"County:          {county}", "Description:     Work Barge Drydock",
                f"I am pleased to inform you that {vendors[0].title()} has been awarded the contract",
                "for the above project based on the bid submitted on May 3, 2023 in the amount of",
                f"${amount}."]
    if kind == "bid tabs":
        return ["NORTH CAROLINA DEPARTMENT OF TRANSPORTATION", "BID TABULATION",
                "Letting Date: May 3, 2023", f"Contract: {contract}", "Call Number: 001",
                "FED AID: State Funded", f"Counties: {county.upper()}", *vendors,
                "0001 0000820000-N SP GENERIC MISCELLANEOUS ITEM (DAY) 8 595.00 4,760.00 443.63 3,549.04 DAY",
                "0009 0005000000-N SP GENERIC FERRY ITEM (LS) Lump Sum 90,790.00 87,841.00"]
    if kind == "item c":
        return [contract, "16.33001", "STATE FUNDED", county.upper(), "TYPE OF WORK RESURFACING",
                "LOCATION NCDOT - FERRY DIVISION", "ESTIMATE 2,224,050.00",
                "DATE AVAILABLE OCT 02 2023", "FINAL COMPLETION FEB 16 2024", "$ TOTALS % DIFF",
                f"{vendors[0]}  NORFOLK, VA {amount} -33.1",
                f"{vendors[1]}  NORFOLK, VA 1,575,996.00 -29.1", "ESTIMATE TOTAL 2,886,830.80"]
    return ["STATE OF NORTH CAROLINA", "DEPARTMENT OF TRANSPORTATION", "NOTICE TO PROSPECTIVE BIDDERS",
            "The Department of Transportation is requesting bids for the following project in Division One:",
            f"{contract} - Work Barge Drydock, in {county} County",
            "The Date of Availability for this Contract is October 2, 2023",
            "The Completion Date for this Contract is February 16, 2024",
            "Bid Opening will be held on May 3, 2023"]


class Corpus:
    """Generates batch directories under ``root`` one at a time; the same
    seed yields the same sequence of batches, byte for byte."""

    def __init__(self, root: str, seed: int, batch_docs: int):
        self.root = root
        self.rng = random.Random(seed)
        self.batch_docs = batch_docs
        self.next_number = self.rng.randint(1000, 9000) * 1000
        self.seen: list[tuple[int, tuple[str, str]]] = []  # (number, supplier) delivered
        self.count = 0
        self.roundtrip_failures: list[str] = []

    def _roundtrip(self, name: str, pdf: bytes, lines: list[str]) -> None:
        from pdf_etl_pipeline_spark.sources.pdf_text import extract_pdf_text_lines

        norm = lambda ls: [" ".join(line.split()) for line in ls]  # noqa: E731
        if norm(extract_pdf_text_lines(pdf)) != norm(lines):
            self.roundtrip_failures.append(name)

    def next_batch(self) -> Batch:
        rng = self.rng
        path = os.path.join(self.root, f"batch_{self.count:05d}")
        os.makedirs(path)
        batch = Batch(path, self.batch_docs)
        resent: set[int] = set()
        fresh: list[tuple[int, tuple[str, str]]] = []
        for i in range(self.batch_docs):
            if rng.random() < NC_SHARE:
                kind = rng.choice(_NC_KINDS)
                lines = _nc_doc(rng, kind)
                name = f"{kind} {self.count:05d}_{i:03d}.pdf"
                batch.has_nc = True
            elif len(resent) < len(self.seen) and rng.random() < DUP_SHARE:
                number, supplier = rng.choice(self.seen)
                while number in resent:  # one re-send per key per batch
                    number, supplier = rng.choice(self.seen)
                resent.add(number)
                lines, _ = _invoice(rng, number, supplier)
                name = f"invoice_{self.count:05d}_{i:03d}.pdf"
            else:
                supplier = rng.choice(_SUPPLIERS)
                number = self.next_number
                self.next_number += rng.randint(1, 7)
                lines, total = _invoice(rng, number, supplier)
                fresh.append((number, supplier))
                batch.new_keys.append((str(number), f"{supplier[0]} {supplier[1]}"))
                batch.new_total += total
                name = f"invoice_{self.count:05d}_{i:03d}.pdf"
            pdf = pdf_bytes(lines)
            if i == 0:
                self._roundtrip(name, pdf, lines)
            with open(os.path.join(path, name), "wb") as f:
                f.write(pdf)
        self.seen.extend(fresh)
        self.count += 1
        return batch
