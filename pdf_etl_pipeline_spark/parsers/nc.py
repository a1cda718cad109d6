"""NC DOT document parsers — T5–T10 + dispatch T11/T12 (SURVEY.md §2.8).

Reference behavior (re-expressed Spark-first, not ported):
- T5 ``parse_nc_award_letter``      /root/reference/lib/parse_utils.py:832-940
- T6 ``parse_nc_bids_as_read``      /root/reference/lib/parse_utils.py:943-1094
- T7 ``parse_nc_bid_tabs``          /root/reference/lib/parse_utils.py:1099-1425
- T8 ``parse_nc_item_c``            /root/reference/lib/parse_utils.py:1479-1716
- T9 ``parse_nc_invitation_to_bid`` /root/reference/lib/parse_utils.py:1721-1877
- T10 header extractors             /root/reference/lib/parse_utils.py:812-828,1428-1475
- T11 ``parse_document_by_type``    /root/reference/lib/parse_utils.py:1882-1945
- T12 ``detect_doc_type``           /root/reference/lib/pipeline_runner.py:4-21

Everything below is native Column/array expressions: no Python, no
shuffle. Each parser builds one ``array<struct>`` of its output rows per
document; T8's contract blocks are slices of the line array between
consecutive DA##### sentinels. The public ``parse_*`` functions ``inline``
their own array; the dispatcher picks one array per document by doc type,
so a batch is parsed in one projection.

Built once, run per batch: a ``_*_rows(…, row)`` function builds a parser's
unresolved row-array Column, ``row`` making one output struct
(``lines.record``, or the dispatcher's RECORD_SCHEMA padding), and
``lines.plan_columns`` memoizes it per Spark application and argument
tuple, since building it costs thousands of py4j calls.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, DoubleType, IntegerType, LongType, StringType, StructField, StructType

from pdf_etl_pipeline_spark.functions import scalars as S
from pdf_etl_pipeline_spark.parsers.invoice import _invoice_rows
from pdf_etl_pipeline_spark.parsers.lines import (
    bind,
    fields,
    first_extract,
    first_matching_line,
    index_of_first,
    outer,
    parse_rows,
    plan_columns,
    record,
    slice_between,
)
from pdf_etl_pipeline_spark.parsers.receipt import _receipt_rows

MONEY = r"[\d,]+\.\d{2}"
COMPANY_SUFFIX = r"\b(INC|LLC|CORP|CO|COMPANY|CORPORATION|CONTRACTING|CONSTRUCTION|SHIPYARD|PAVING|GRADING)\b"


# --- T10: state / owner headers --------------------------------------------
def state_header(lines: Column) -> Column:
    return first_extract(lines, r"^STATE OF ([A-Z ]+?)\s*$")


def owner_header(lines: Column) -> Column:
    return first_matching_line(lines, r"DEPARTMENT OF (TRANSPORTATION|HIGHWAYS)")


# --- T12: doc-type detection (filename first, then text probes) ------------
def detect_doc_type(path: Column, lines: Column) -> Column:
    lower_path = F.lower(path)
    joined = F.array_join(F.slice(lines, 1, 12), "\n")
    return (
        F.when(lower_path.contains("award"), "nc_award_letter")
        .when(lower_path.contains("bid tab"), "nc_bid_tabs")
        .when(lower_path.contains("bids as read"), "nc_bids_as_read")
        .when(lower_path.contains("item c"), "nc_item_c")
        .when(lower_path.contains("invitation"), "nc_invitation_to_bid")
        .when(joined.rlike("NOTIFICATION OF AWARD"), "nc_award_letter")
        .when(joined.rlike("CONTRACT BIDS AS READ"), "nc_bids_as_read")
        .when(joined.rlike("NOTICE TO PROSPECTIVE BIDDERS"), "nc_invitation_to_bid")
        .when(joined.rlike("BID TABULATION"), "nc_bid_tabs")
        .otherwise("invoice")
    )


# --- T5: award letter → 1 row ----------------------------------------------
def _award_rows(lines_col: str, row) -> Column:
    lines = F.col(lines_col)
    amount_idx = index_of_first(lines, r"in the amount of")
    same_line_amt = first_extract(lines, r"in the amount of\s*\$(" + MONEY + ")")
    next_line_amt = F.regexp_extract(F.try_element_at(lines, amount_idx + 1), r"\$(" + MONEY + ")", 1)
    return F.array(
        row(
            doc_type=F.lit("nc_award_letter"),
            file=F.col("path"),
            state=state_header(lines),
            owner=owner_header(lines),
            contract_id=first_extract(lines, r"Contract No\.?\s+(\S+)"),
            project_number=first_extract(lines, r"Federal Aid No\.?:?\s+(.+?)\s*$"),
            county=first_extract(lines, r"County:\s+(.+?)\s*$"),
            description=first_extract(lines, r"Description:\s+(.+?)\s*$"),
            vendor=first_extract(lines, r"inform you that (.+?),? has been"),
            letting_date=S.parse_date(first_extract(lines, r"submitted on ([A-Za-z]+ \d{1,2}, \d{4})")),
            award_value=S.parse_float(F.coalesce(same_line_amt, F.nullif(next_line_amt, F.lit("")))),
        )
    )


def parse_award_letter(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    return parse_rows(docs, _award_rows, lines_col)


# --- T9: invitation to bid → 1 row -----------------------------------------
def _invitation_rows(lines_col: str, row) -> Column:
    lines = F.col(lines_col)
    combo = r"^(DA\d{5,})\s*[–-]\s*(.+?), in (.+?) County"
    return F.array(
        row(
            doc_type=F.lit("nc_invitation_to_bid"),
            file=F.col("path"),
            state=state_header(lines),
            owner=owner_header(lines),
            division=first_extract(lines, r"in Division (\w+)"),
            contract_id=first_extract(lines, combo, 1),
            proposal_description=first_extract(lines, combo, 2),
            county=first_extract(lines, combo, 3),
            date_available=S.parse_date(first_extract(lines, r"Date of Availability for this Contract is (.+?)\s*$")),
            completion_date=S.parse_date(first_extract(lines, r"Completion Date for this Contract is (.+?)\s*$")),
            letting_date=S.parse_date(first_extract(lines, r"Bid Opening will be held on (.+?)\s*$")),
        )
    )


def parse_invitation(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    return parse_rows(docs, _invitation_rows, lines_col)


# --- T6: bids-as-read → n contractor rows (all-null fallback) --------------
def _bids_as_read_rows(lines_col: str, row) -> Column:
    lines = F.col(lines_col)
    bidder_line = r"^([A-Z][A-Za-z .&-]+?)\s+(" + MONEY + r")\s*$"
    header = {
        "doc_type": F.lit("nc_bids_as_read"),
        "file": F.col("path"),
        "letting_date": S.parse_date(first_extract(lines, r"Bid Opening\s+(\d{1,2}/\d{1,2}/\d{4})")),
        "letting_time": first_extract(lines, r"^Time\s+(.+?)\s*$"),
        "contract_id": first_extract(lines, r"^Contract\s+(\w+)\s*$"),
        "description": first_extract(lines, r"Description:?\s*(.+?)\s*$"),
        "engineers_estimate": S.parse_float(first_extract(lines, r"ENGINEERS ESTIMATE\s+\$?(" + MONEY + ")")),
        "total_bids_received": first_extract(lines, r"TOTAL BIDS RECEIVED:?\s*\((\d+)\)").cast("int"),
    }
    bidders = F.filter(lines, lambda l: l.rlike(bidder_line) & ~l.rlike("ESTIMATE|TOTAL BIDS"))
    # outer keeps the reference's all-null fallback row when no contractor
    # line parsed (lib/parse_utils.py:1085-1092)
    return bind(
        {**header, "bidders": bidders},
        lambda h: F.transform(
            outer(h["bidders"]),
            lambda b: row(
                **fields(h, *header),
                contractor_name=F.regexp_extract(b, bidder_line, 1),
                amount_bid=S.parse_float(F.regexp_extract(b, bidder_line, 2)),
            ),
        ),
    )


def parse_bids_as_read(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    return parse_rows(docs, _bids_as_read_rows, lines_col)


# --- T7: bid tabs → items × bidders (positional join J3) -------------------
ITEM_LINE_T7 = r"^\d{3,4}\s+\S+"


def _bid_tab_item(line: Column, n_vendors: Column) -> Column:
    money_toks = F.filter(F.split(line, r"\s+"), S.is_money_token)
    # the last 2×n_vendors money tokens are (unit_price, amount) pairs in
    # bidder order (reference slices [-2*n_bidders:], lib/parse_utils.py:1355)
    pairs = F.slice(
        money_toks,
        F.greatest(F.size(money_toks) - 2 * n_vendors + 1, F.lit(1)),
        2 * n_vendors,
    )
    return record(
        line_no=F.regexp_extract(line, r"^(\d{3,4})\s", 1),
        item_no=F.regexp_extract(line, r"^\d{3,4}\s+(\S+)", 1),
        item_description=F.nullif(
            F.regexp_extract(line, r"^\d{3,4}\s+\S+\s+(?:SP\s+)?(.+?)\s*\(", 1), F.lit("")
        ),
        unit=F.nullif(F.regexp_extract(line, r"\(([A-Z]+)\)", 1), F.lit("")),
        qty=F.when(line.rlike(r"Lump Sum"), F.lit(None).cast("double")).otherwise(
            S.parse_float(F.nullif(F.regexp_extract(line, r"\)\s+([\d,]+)\s", 1), F.lit("")))
        ),
        pairs=pairs,
    )


def _bid_tabs_rows(lines_col: str, row) -> Column:
    lines = F.col(lines_col)
    first_item = index_of_first(lines, ITEM_LINE_T7)
    header_block = F.slice(lines, 1, F.greatest(first_item - 1, F.lit(0)))
    header = {
        "doc_type": F.lit("nc_bid_tabs"),
        "file": F.col("path"),
        "letting_date": S.parse_date(first_extract(lines, r"Letting Date:?\s*([A-Za-z]{3,9} \d{1,2}, \d{4})")),
        "contract_id": first_extract(lines, r"Contract:?\s+(DA\d{5,})"),
        "call_number": first_extract(lines, r"Call Number:?\s*(\d+)"),
        "fed_aid": first_extract(lines, r"FED AID:?\s*(.+?)\s*$"),
        "counties": first_extract(lines, r"Counties:?\s*(.+?)\s*$"),
    }
    vendors = F.filter(header_block, lambda l: l.rlike(COMPANY_SUFFIX) & l.rlike(r"^[A-Z][A-Z .&-]+$"))
    items = F.filter(lines, lambda l: l.rlike(ITEM_LINE_T7))

    def rows(h):
        vendors = h["vendors"]
        # each item line is parsed once, then paired with every vendor by
        # position; no item or no vendor gives no row
        parsed = F.transform(h["items"], lambda l: _bid_tab_item(l, F.size(vendors)))
        return F.flatten(
            F.transform(
                parsed,
                lambda it: F.transform(
                    vendors,
                    lambda v, pos: row(
                        **fields(h, *header),
                        **fields(it, "line_no", "item_no", "item_description", "unit", "qty"),
                        vendor_name=v,
                        unit_price=S.parse_float(F.try_element_at(it["pairs"], pos * 2 + 1)),
                        amount_bid=S.parse_float(F.try_element_at(it["pairs"], pos * 2 + 2)),
                    ),
                ),
            )
        )

    return bind({**header, "vendors": vendors, "items": items}, rows)


def parse_bid_tabs(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    return parse_rows(docs, _bid_tabs_rows, lines_col)


# --- T8: item C report → contract blocks × vendors (W4 blocks) -------------
BLOCK_SENTINEL = r"^DA\d{5}\s*$"
VENDOR_LINE_T8 = r"^(.+?)\s\s+(.+?)\s+(" + MONEY + r")\s+(-?\d+(?:\.\d+)?)\s*$"


def _caps_date(c: Column) -> Column:
    # "OCT 02 2023"-style labels: parse_date's formats plus "MMM dd yyyy"
    # (Spark matches month names case-insensitively)
    return S.parse_date(c, ("MMM dd yyyy",))


def _item_c_block(lines: Column, block_id: Column) -> Column:
    vendor_section = slice_between(lines, r"^\$ TOTALS", r"^(ESTIMATE|LETTING) TOTAL")
    return record(
        block_id=block_id,
        contract_id=F.try_element_at(lines, F.lit(1)),
        project_number=F.nullif(
            F.regexp_extract(F.try_element_at(lines, F.lit(2)), r"^(\d+\.\d+)$", 1), F.lit("")
        ),
        type_of_work=first_extract(lines, r"^TYPE OF WORK\s+(.+?)\s*$"),
        location=first_extract(lines, r"^LOCATION\s+(.+?)\s*$"),
        estimate=S.parse_float(first_extract(lines, r"^ESTIMATE\s+(" + MONEY + r")\s*$")),
        date_available=_caps_date(first_extract(lines, r"^DATE AVAILABLE\s+(.+?)\s*$")),
        final_completion=_caps_date(first_extract(lines, r"^FINAL COMPLETION\s+(.+?)\s*$")),
        estimate_total=S.parse_float(first_extract(lines, r"^ESTIMATE TOTAL\s+(" + MONEY + r")")),
        vendors=F.filter(vendor_section, lambda l: l.rlike(VENDOR_LINE_T8)),
    )


_ITEM_C_BLOCK = (
    "block_id", "contract_id", "project_number", "type_of_work", "location", "estimate",
    "date_available", "final_completion", "estimate_total",
)


def _item_c_rows(lines_col: str, row) -> Column:
    lines = F.col(lines_col)
    # W4: block k runs from the k-th DA##### sentinel to just before the
    # next one (or the document's end), block_id = k; lines before the
    # first sentinel belong to no block
    sentinels = F.array_compact(F.transform(lines, lambda l, i: F.when(l.rlike(BLOCK_SENTINEL), i)))

    def blocks(h):
        starts = h["starts"]
        return F.transform(
            starts,
            lambda s, k: _item_c_block(
                F.slice(lines, s + 1, F.coalesce(F.try_element_at(starts, k + 2), F.size(lines)) - s),
                (k + 1).cast("long"),
            ),
        )

    def rows(b):
        return F.transform(
            outer(b["vendors"]),
            lambda v: row(
                doc_type=F.lit("nc_item_c"),
                file=F.col("path"),
                **fields(b, *_ITEM_C_BLOCK),
                vendor_name=F.regexp_extract(v, VENDOR_LINE_T8, 1),
                vendor_city=F.regexp_extract(v, VENDOR_LINE_T8, 2),
                vendor_total=S.parse_float(F.regexp_extract(v, VENDOR_LINE_T8, 3)),
                pct_diff=S.parse_float(F.regexp_extract(v, VENDOR_LINE_T8, 4)),
            ),
        )

    return F.flatten(F.transform(bind({"starts": sentinels}, blocks), rows))


def parse_item_c(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    return parse_rows(docs, _item_c_rows, lines_col)


# --- T11: dispatcher ---------------------------------------------------------
_S, _I, _D, _F = StringType(), IntegerType(), DateType(), DoubleType()
# The dispatcher's one record relation (U1): the receipt columns, then
# doc_type, then each later branch's new columns in branch order — the
# by-name union of the seven parsers' outputs. Only doc_type is never null.
RECORD_SCHEMA = StructType(
    [
        StructField(name, t, nullable=name != "doc_type")
        for name, t in [
            # T4 receipt
            ("company_id", _I), ("country", _S), ("processed_date", _D), ("supplier_name", _S),
            ("supplier_address", _S), ("invoice_number", _S), ("invoice_date", _D),
            ("description", _S), ("sku", _S), ("qty", _F), ("price", _F), ("total", _F),
            ("tax_label", _F), ("tax_amount", _F), ("subtotal_amount", _F), ("total_amount", _F),
            ("items_total", _F), ("file", _S), ("doc_type", _S),
            # T5 award letter
            ("state", _S), ("owner", _S), ("contract_id", _S), ("project_number", _S),
            ("county", _S), ("vendor", _S), ("letting_date", _D), ("award_value", _F),
            # T9 invitation to bid
            ("division", _S), ("proposal_description", _S), ("date_available", _D),
            ("completion_date", _D),
            # T6 bids as read
            ("letting_time", _S), ("engineers_estimate", _F), ("total_bids_received", _I),
            ("contractor_name", _S), ("amount_bid", _F),
            # T7 bid tabs
            ("call_number", _S), ("fed_aid", _S), ("counties", _S), ("line_no", _S),
            ("item_no", _S), ("item_description", _S), ("unit", _S), ("vendor_name", _S),
            ("unit_price", _F),
            # T8 item C
            ("block_id", LongType()), ("type_of_work", _S), ("location", _S), ("estimate", _F),
            ("final_completion", _D), ("estimate_total", _F), ("vendor_city", _S),
            ("vendor_total", _F), ("pct_diff", _F),
            # T1-T3 invoice
            ("supplier_tin", _S), ("client_name", _S), ("client_tin", _S), ("due_date", _D),
        ]
    ]
)


def _padded(doc_type: str, nulls: dict[str, Column]):
    """The row builder of one dispatch branch: the parser's columns and its
    doc_type at their RECORD_SCHEMA places, the named typed ``nulls``
    everywhere else."""

    def row(**cols: Column) -> Column:
        cols["doc_type"] = F.lit(doc_type)
        assert cols.keys() <= nulls.keys(), cols.keys() - nulls.keys()
        return F.struct(*[cols[n].alias(n) if n in cols else null for n, null in nulls.items()])

    return row


def _dispatch_plan(lines_col: str, processed_date: str | None) -> tuple[Column, Column]:
    # P4 extension dispatch (reference lib/pipeline_runner.py:57,68): images
    # go through the OCR/receipt path, everything else through text parsers
    is_image = F.lower(F.col("path")).rlike(r"\.(jpg|jpeg|png)$")
    doc_type = F.when(is_image, "receipt").otherwise(detect_doc_type(F.col("path"), F.col(lines_col)))
    rows = {
        "receipt": lambda row: _receipt_rows(lines_col, "path", 1, "USA", processed_date, row),
        "nc_award_letter": lambda row: _award_rows(lines_col, row),
        "nc_invitation_to_bid": lambda row: _invitation_rows(lines_col, row),
        "nc_bids_as_read": lambda row: _bids_as_read_rows(lines_col, row),
        "nc_bid_tabs": lambda row: _bid_tabs_rows(lines_col, row),
        "nc_item_c": lambda row: _item_c_rows(lines_col, row),
        "invoice": lambda row: _invoice_rows(lines_col, "path", 1, "USA", processed_date, row),
    }
    # one set of named typed nulls serves all seven branches: each costs a
    # dozen py4j calls, so per-branch copies would double the cold build
    nulls = {f.name: F.lit(None).cast(f.dataType).alias(f.name) for f in RECORD_SCHEMA}
    records = None
    for t, build in rows.items():
        is_t, arr = F.col("doc_type") == t, build(_padded(t, nulls))
        records = F.when(is_t, arr) if records is None else records.when(is_t, arr)
    return doc_type.alias("doc_type"), F.inline(records)


def parse_documents_by_type(
    docs: DataFrame, lines_col: str = "lines", processed_date: str | None = None
) -> DataFrame:
    """Route each document to its parser (reference
    lib/parse_utils.py:1882-1945) in one pass over ``docs``: one projection
    computes the doc type, one CASE on it picks that parser's row array,
    padded to RECORD_SCHEMA, and one ``inline`` yields the rows — the
    by-name union of the parsers' outputs (U1) without a Union node."""
    doc_type, records = plan_columns(docs, _dispatch_plan, lines_col, processed_date)
    return docs.select(F.col("*"), doc_type).select(records)
