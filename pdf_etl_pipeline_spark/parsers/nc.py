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

Everything below is native Column/array/window expressions. Multi-row
parsers (T6/T7/T8) are UDTF-shaped: per-document arrays built declaratively
then ``posexplode``d — one row in, n rows out, no Python, no shuffle except
T8's per-document block window (partitioned by path, bounded rows).

Built once, run per batch. Each parser is split in two. A ``_*_plan``
function builds the parser's unresolved Columns: its ``select`` lists, its
``posexplode`` columns, T8's window and ``agg`` columns and the dispatcher's
doc-type column and per-type filter predicates. ``lines.plan_columns``
memoizes them per Spark application and argument tuple, since building
them costs thousands of py4j calls. The ``parse_*`` function applies them to
each batch's ``docs`` with a few DataFrame calls (``select``, ``filter``,
``withColumn(s)``, ``groupBy``, ``drop``, ``unionByName``); those are bound
to the batch, so they run on every call.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.functions import scalars as S
from pdf_etl_pipeline_spark.parsers.lines import (
    first_extract,
    first_matching_line,
    index_of_first,
    plan_columns,
    slice_between,
)

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




def _cols(*names: str) -> list[Column]:
    return [F.col(n) for n in names]


# --- T5: award letter → 1 row ----------------------------------------------
def _award_plan(lines_col: str) -> list[Column]:
    lines = F.col(lines_col)
    amount_idx = index_of_first(lines, r"in the amount of")
    same_line_amt = first_extract(lines, r"in the amount of\s*\$(" + MONEY + ")")
    next_line_amt = F.regexp_extract(F.try_element_at(lines, amount_idx + 1), r"\$(" + MONEY + ")", 1)
    return [
        F.lit("nc_award_letter").alias("doc_type"),
        F.col("path").alias("file"),
        state_header(lines).alias("state"),
        owner_header(lines).alias("owner"),
        first_extract(lines, r"Contract No\.?\s+(\S+)").alias("contract_id"),
        first_extract(lines, r"Federal Aid No\.?:?\s+(.+?)\s*$").alias("project_number"),
        first_extract(lines, r"County:\s+(.+?)\s*$").alias("county"),
        first_extract(lines, r"Description:\s+(.+?)\s*$").alias("description"),
        first_extract(lines, r"inform you that (.+?),? has been").alias("vendor"),
        S.parse_date(first_extract(lines, r"submitted on ([A-Za-z]+ \d{1,2}, \d{4})")).alias(
            "letting_date"
        ),
        S.parse_float(F.coalesce(same_line_amt, F.nullif(next_line_amt, F.lit("")))).alias(
            "award_value"
        ),
    ]


def parse_award_letter(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    return docs.select(*plan_columns(docs, _award_plan, lines_col))


# --- T9: invitation to bid → 1 row -----------------------------------------
def _invitation_plan(lines_col: str) -> list[Column]:
    lines = F.col(lines_col)
    combo = r"^(DA\d{5,})\s*[–-]\s*(.+?), in (.+?) County"
    return [
        F.lit("nc_invitation_to_bid").alias("doc_type"),
        F.col("path").alias("file"),
        state_header(lines).alias("state"),
        owner_header(lines).alias("owner"),
        first_extract(lines, r"in Division (\w+)").alias("division"),
        first_extract(lines, combo, 1).alias("contract_id"),
        first_extract(lines, combo, 2).alias("proposal_description"),
        first_extract(lines, combo, 3).alias("county"),
        S.parse_date(
            first_extract(lines, r"Date of Availability for this Contract is (.+?)\s*$")
        ).alias("date_available"),
        S.parse_date(
            first_extract(lines, r"Completion Date for this Contract is (.+?)\s*$")
        ).alias("completion_date"),
        S.parse_date(first_extract(lines, r"Bid Opening will be held on (.+?)\s*$")).alias(
            "letting_date"
        ),
    ]


def parse_invitation(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    return docs.select(*plan_columns(docs, _invitation_plan, lines_col))


# --- T6: bids-as-read → n contractor rows (all-null fallback) --------------
def _bids_as_read_plan(lines_col: str) -> tuple[list[Column], ...]:
    lines = F.col(lines_col)
    bidder_line = r"^([A-Z][A-Za-z .&-]+?)\s+(" + MONEY + r")\s*$"
    bidders = F.filter(
        lines,
        lambda l: l.rlike(bidder_line) & ~l.rlike("ESTIMATE|TOTAL BIDS"),
    )
    header = [
        F.lit("nc_bids_as_read").alias("doc_type"),
        F.col("path").alias("file"),
        S.parse_date(first_extract(lines, r"Bid Opening\s+(\d{1,2}/\d{1,2}/\d{4})")).alias(
            "letting_date"
        ),
        first_extract(lines, r"^Time\s+(.+?)\s*$").alias("letting_time"),
        first_extract(lines, r"^Contract\s+(\w+)\s*$").alias("contract_id"),
        first_extract(lines, r"Description:?\s*(.+?)\s*$").alias("description"),
        S.parse_float(first_extract(lines, r"ENGINEERS ESTIMATE\s+\$?(" + MONEY + ")")).alias(
            "engineers_estimate"
        ),
        first_extract(lines, r"TOTAL BIDS RECEIVED:?\s*\((\d+)\)").cast("int").alias(
            "total_bids_received"
        ),
        bidders.alias("_bidders"),
    ]
    # posexplode_outer keeps the reference's all-null fallback row when no
    # contractor line parsed (lib/parse_utils.py:1085-1092)
    exploded = [F.col("*"), F.posexplode_outer("_bidders").alias("pos", "_b")]
    out = _cols(
        "doc_type",
        "file",
        "letting_date",
        "letting_time",
        "contract_id",
        "description",
        "engineers_estimate",
        "total_bids_received",
    ) + [
        F.regexp_extract("_b", bidder_line, 1).alias("contractor_name"),
        S.parse_float(F.regexp_extract("_b", bidder_line, 2)).alias("amount_bid"),
    ]
    return header, exploded, out


def parse_bids_as_read(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    header, exploded, out = plan_columns(docs, _bids_as_read_plan, lines_col)
    return docs.select(*header).select(*exploded).drop("_bidders").select(*out)


# --- T7: bid tabs → items × bidders (positional join J3) -------------------
ITEM_LINE_T7 = r"^\d{3,4}\s+\S+"


def _bid_tabs_plan(lines_col: str) -> tuple[list[Column], ...]:
    lines = F.col(lines_col)
    first_item = index_of_first(lines, ITEM_LINE_T7)
    header_block = F.slice(lines, 1, F.greatest(first_item - 1, F.lit(0)))
    vendors = F.filter(
        header_block,
        lambda l: l.rlike(COMPANY_SUFFIX) & l.rlike(r"^[A-Z][A-Z .&-]+$"),
    )
    items = F.filter(lines, lambda l: l.rlike(ITEM_LINE_T7))

    base = [
        F.lit("nc_bid_tabs").alias("doc_type"),
        F.col("path").alias("file"),
        S.parse_date(
            first_extract(lines, r"Letting Date:?\s*([A-Za-z]{3,9} \d{1,2}, \d{4})")
        ).alias("letting_date"),
        first_extract(lines, r"Contract:?\s+(DA\d{5,})").alias("contract_id"),
        first_extract(lines, r"Call Number:?\s*(\d+)").alias("call_number"),
        first_extract(lines, r"FED AID:?\s*(.+?)\s*$").alias("fed_aid"),
        first_extract(lines, r"Counties:?\s*(.+?)\s*$").alias("counties"),
        vendors.alias("_vendors"),
        items.alias("_items"),
    ]
    per_item = [F.col("*"), F.posexplode("_items").alias("item_pos", "_line")]

    money_toks = F.filter(F.split(F.col("_line"), r"\s+"), S.is_money_token)
    n_vendors = F.size("_vendors")
    # the last 2×n_vendors money tokens are (unit_price, amount) pairs in
    # bidder order (reference slices [-2*n_bidders:], lib/parse_utils.py:1355)
    pairs = F.slice(
        money_toks,
        F.greatest(F.size(money_toks) - 2 * n_vendors + 1, F.lit(1)),
        2 * n_vendors,
    )
    with_item = [
        F.col("*"),
        F.regexp_extract("_line", r"^(\d{3,4})\s", 1).alias("line_no"),
        F.regexp_extract("_line", r"^\d{3,4}\s+(\S+)", 1).alias("item_no"),
        F.nullif(
            F.regexp_extract("_line", r"^\d{3,4}\s+\S+\s+(?:SP\s+)?(.+?)\s*\(", 1), F.lit("")
        ).alias("item_description"),
        F.nullif(F.regexp_extract("_line", r"\(([A-Z]+)\)", 1), F.lit("")).alias("unit"),
        F.when(F.col("_line").rlike(r"Lump Sum"), F.lit(None).cast("double")).otherwise(
            S.parse_float(F.nullif(F.regexp_extract("_line", r"\)\s+([\d,]+)\s", 1), F.lit("")))
        ).alias("qty"),
        pairs.alias("_pairs"),
    ]
    per_vendor = [F.col("*"), F.posexplode("_vendors").alias("vendor_pos", "vendor_name")]
    out = _cols(
        "doc_type",
        "file",
        "letting_date",
        "contract_id",
        "call_number",
        "fed_aid",
        "counties",
        "line_no",
        "item_no",
        "item_description",
        "unit",
        "qty",
        "vendor_name",
    ) + [
        S.parse_float(F.try_element_at(F.col("_pairs"), F.col("vendor_pos") * 2 + 1)).alias("unit_price"),
        S.parse_float(F.try_element_at(F.col("_pairs"), F.col("vendor_pos") * 2 + 2)).alias("amount_bid"),
    ]
    return base, per_item, with_item, per_vendor, out


def parse_bid_tabs(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    base, per_item, with_item, per_vendor, out = plan_columns(docs, _bid_tabs_plan, lines_col)
    return (
        docs.select(*base)
        .select(*per_item)
        .drop("_items")
        .select(*with_item)
        .select(*per_vendor)
        .drop("_vendors")
        .select(*out)
    )


# Spark's DateType parse for "OCT 02 2023"-style labels goes through
# parse_date's 5 formats, which don't include "MMM dd yyyy" — extend here.
def _parse_caps_date(c: Column) -> Column:
    return F.coalesce(
        S.parse_date(c),
        F.try_to_timestamp(F.initcap(F.lower(c)), F.lit("MMM dd yyyy")).cast("date"),
    )


# --- T8: item C report → contract blocks × vendors (W4 blocks) -------------
BLOCK_SENTINEL = r"^DA\d{5}\s*$"
VENDOR_LINE_T8 = r"^(.+?)\s\s+(.+?)\s+(" + MONEY + r")\s+(-?\d+(?:\.\d+)?)\s*$"


def _item_c_plan(lines_col: str) -> tuple:
    # W4: per-document running count of DA##### sentinels = block id
    exploded = [F.col("path"), F.posexplode(F.col(lines_col)).alias("pos", "line")]
    w = Window.partitionBy("path").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    block_id = F.sum(F.when(F.col("line").rlike(BLOCK_SENTINEL), 1).otherwise(0)).over(w)
    in_block = F.col("block_id") > 0
    group = _cols("path", "block_id")
    block_lines = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
    ).alias("lines")

    lines = F.col("lines")
    vendor_section = slice_between(lines, r"^\$ TOTALS", r"^(ESTIMATE|LETTING) TOTAL")
    vendor_lines = F.filter(vendor_section, lambda l: l.rlike(VENDOR_LINE_T8))
    base = [
        F.lit("nc_item_c").alias("doc_type"),
        F.col("path").alias("file"),
        F.col("block_id"),
        F.try_element_at(lines, F.lit(1)).alias("contract_id"),
        F.nullif(F.regexp_extract(F.try_element_at(lines, F.lit(2)), r"^(\d+\.\d+)$", 1), F.lit("")).alias(
            "project_number"
        ),
        first_extract(lines, r"^TYPE OF WORK\s+(.+?)\s*$").alias("type_of_work"),
        first_extract(lines, r"^LOCATION\s+(.+?)\s*$").alias("location"),
        S.parse_float(first_extract(lines, r"^ESTIMATE\s+(" + MONEY + r")\s*$")).alias("estimate"),
        _parse_caps_date(first_extract(lines, r"^DATE AVAILABLE\s+(.+?)\s*$")).alias(
            "date_available"
        ),
        _parse_caps_date(first_extract(lines, r"^FINAL COMPLETION\s+(.+?)\s*$")).alias(
            "final_completion"
        ),
        S.parse_float(first_extract(lines, r"^ESTIMATE TOTAL\s+(" + MONEY + r")")).alias(
            "estimate_total"
        ),
        vendor_lines.alias("_vendors"),
    ]
    per_vendor = [F.col("*"), F.posexplode_outer("_vendors").alias("vpos", "_v")]
    out = _cols(
        "doc_type",
        "file",
        "block_id",
        "contract_id",
        "project_number",
        "type_of_work",
        "location",
        "estimate",
        "date_available",
        "final_completion",
        "estimate_total",
    ) + [
        F.regexp_extract("_v", VENDOR_LINE_T8, 1).alias("vendor_name"),
        F.regexp_extract("_v", VENDOR_LINE_T8, 2).alias("vendor_city"),
        S.parse_float(F.regexp_extract("_v", VENDOR_LINE_T8, 3)).alias("vendor_total"),
        S.parse_float(F.regexp_extract("_v", VENDOR_LINE_T8, 4)).alias("pct_diff"),
    ]
    return exploded, block_id, in_block, group, block_lines, base, per_vendor, out


def parse_item_c(docs: DataFrame, lines_col: str = "lines") -> DataFrame:
    exploded, block_id, in_block, group, block_lines, base, per_vendor, out = plan_columns(
        docs, _item_c_plan, lines_col
    )
    return (
        docs.select(*exploded)
        .withColumn("block_id", block_id)
        .filter(in_block)
        .groupBy(*group)
        .agg(block_lines)
        .select(*base)
        .select(*per_vendor)
        .drop("_vendors")
        .select(*out)
    )


# --- T11: dispatcher ---------------------------------------------------------
_DOC_TYPES = (
    "receipt",
    "nc_award_letter",
    "nc_invitation_to_bid",
    "nc_bids_as_read",
    "nc_bid_tabs",
    "nc_item_c",
    "invoice",
)


def _dispatch_plan(lines_col: str) -> tuple[Column, dict[str, Column]]:
    # P4 extension dispatch (reference lib/pipeline_runner.py:57,68): images
    # go through the OCR/receipt path, everything else through text parsers
    is_image = F.lower(F.col("path")).rlike(r"\.(jpg|jpeg|png)$")
    doc_type = F.when(is_image, "receipt").otherwise(
        detect_doc_type(F.col("path"), F.col(lines_col))
    )
    return doc_type, {t: F.col("doc_type") == t for t in _DOC_TYPES}


def parse_documents_by_type(
    docs: DataFrame, lines_col: str = "lines", processed_date: str | None = None
) -> DataFrame:
    """Route each document to its parser and union the heterogeneous outputs
    by name (U1). Unknown types pass through as raw text (reference
    lib/parse_utils.py:1938-1945)."""
    from pdf_etl_pipeline_spark.parsers.invoice import parse_invoices
    from pdf_etl_pipeline_spark.parsers.receipt import parse_receipts

    doc_type, is_type = plan_columns(docs, _dispatch_plan, lines_col)
    typed = docs.withColumn("doc_type", doc_type)

    def of(t: str) -> DataFrame:
        return typed.filter(is_type[t])

    branches = [
        parse_receipts(of("receipt"), processed_date=processed_date).withColumn(
            "doc_type", F.lit("receipt")
        ),
        parse_award_letter(of("nc_award_letter")),
        parse_invitation(of("nc_invitation_to_bid")),
        parse_bids_as_read(of("nc_bids_as_read")),
        parse_bid_tabs(of("nc_bid_tabs")),
        parse_item_c(of("nc_item_c")),
        parse_invoices(of("invoice"), processed_date=processed_date).withColumn(
            "doc_type", F.lit("invoice")
        ),
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out
