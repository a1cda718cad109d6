"""Invoice parser — T1/T2/T3 (SURVEY.md §2.8).

Reference behavior (cited for parity, re-expressed Spark-first):
- T1 ``extract_invoice_metadata``  /root/reference/lib/parse_utils.py:172-296
- T2 ``extract_table_section``     /root/reference/lib/parse_utils.py:299-308
- T3 ``parse_invoice_line``        /root/reference/lib/parse_utils.py:129-169

The whole parser is **native Column expressions** over ``lines:
array<string>`` — no Python UDF. Per-document work is embarrassingly
parallel (one row in, n rows out via ``inline``); at 100 TB this scales
linearly with input splits and never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.functions import scalars as S
from pdf_etl_pipeline_spark.parsers.lines import (
    bind,
    cascade,
    fields,
    first_extract,
    first_matching_line,
    outer,
    parse_rows,
    slice_between,
)

# T2 markers (reference: lib/parse_utils.py:299-308)
TABLE_HEADER = r"^ID\s+DESCRIPTION\s+QTY\s+PRICE\s+TOTAL"
TABLE_END = r"^Sub\s*Total"

# T3 line-item grammar: "01. AX-1000 Digi Mouse Wireless 1. 7400. 7400."
# leading NN. id, trailing three numbers (OCR-style trailing dots tolerated),
# middle = description (reference: lib/parse_utils.py:129-169)
ITEM_LINE = r"^(\d+)\.\s+(.+?)\s+([\d,]+(?:\.\d+)?)\.?\s+([\d,]+(?:\.\d+)?)\.?\s+([\d,]+(?:\.\d+)?)\.?\s*$"

# TIN with the reference's negative lookbehind — "GSTIN" must not match
# (reference: lib/parse_utils.py:203)
TIN_PATTERN = r"(?<!G)TIN[:\s]+(\d{6,})"


def invoice_metadata(lines: Column) -> Column:
    """T1: one struct of header metadata per document."""
    tins = F.filter(
        F.transform(lines, lambda l: F.regexp_extract(l, TIN_PATTERN, 1)),
        lambda x: x != "",
    )
    gst_line = first_matching_line(lines, r"GST\s+\d+(\.\d+)?\s*%")
    subtotal = S.parse_float(first_extract(lines, r"^Sub\s*Total\s+\$?([\d,]+(?:\.\d+)?)"))
    tax_amount = S.parse_float(F.nullif(F.regexp_extract(gst_line, r"([\d,]+\.\d{2})\s*$", 1), F.lit("")))
    total = S.parse_float(first_extract(lines, r"^Total\s+\$?([\d,]+(?:\.\d+)?)"))
    invoice_date = S.parse_date(first_extract(lines, r"Invoice\s+Date:\s*(.+?)\s*$"))
    # supplier = the FIRST TWO lines joined (reference parse_utils.py:174
    # `" ".join(text_list[:2])`): big-font letterheads render as two
    # baselines, so pdfplumber-style extraction splits "J.K." /
    # "Computers" across lines and the reference reassembles them here —
    # including the quirk that a one-line header swallows the line below
    supplier = F.nullif(
        F.array_join(
            F.filter(
                F.transform(F.slice(lines, 1, 2), lambda l: F.trim(l)),
                lambda s: s != "",
            ),
            " ",
        ),
        F.lit(""),
    )
    return F.struct(
        supplier.alias("supplier_name"),
        F.try_element_at(tins, F.lit(1)).alias("supplier_tin"),
        F.nullif(
            F.regexp_replace(first_extract(lines, r"Bill\s+to:\s*(.+?)\s*$"), r"^M/s:\s*", ""),
            F.lit(""),
        ).alias("client_name"),
        F.try_element_at(tins, F.lit(2)).alias("client_tin"),
        cascade(lines, r"Invoice\s*#\s*(\S+)", r"\b([RT]\d{6,})\b", r"GST\s+ID\s+No\s*:?\s*(\d{6,})").alias(
            "invoice_number"
        ),
        F.coalesce(invoice_date, S.find_dates_in_lines(lines)).alias("invoice_date"),
        S.parse_date(first_extract(lines, r"Due\s+Date:\s*(.+?)\s*$")).alias("due_date"),
        S.extract_tax_rate(gst_line).alias("tax_label"),
        tax_amount.alias("tax_amount"),
        subtotal.alias("subtotal_amount"),
        S.fix_null_total(total, subtotal, tax_amount).alias("total_amount"),
    )


def invoice_line_items(lines: Column) -> Column:
    """T2+T3: the line-item table section parsed to an array of structs."""
    section = slice_between(lines, TABLE_HEADER, TABLE_END)
    items = F.filter(section, lambda l: l.rlike(ITEM_LINE))
    return F.transform(
        items,
        lambda l: F.struct(
            F.regexp_extract(l, ITEM_LINE, 1).cast("int").alias("item_id"),
            F.regexp_extract(l, ITEM_LINE, 2).alias("description"),
            S.parse_float(F.regexp_extract(l, ITEM_LINE, 3)).alias("qty"),
            S.parse_float(F.regexp_extract(l, ITEM_LINE, 4)).alias("price"),
            S.parse_float(F.regexp_extract(l, ITEM_LINE, 5)).alias("total"),
        ),
    )


def _invoice_rows(
    lines_col: str, path_col: str, company_id: int, country: str, processed_date: str | None, row
) -> Column:
    lines = F.col(lines_col)
    processed = F.lit(processed_date).cast("date") if processed_date else F.current_date()

    def rows(h):
        m = h["m"]
        return F.transform(
            outer(h["items"]),
            lambda item: row(
                company_id=F.lit(company_id),
                country=F.lit(country),
                processed_date=processed,
                **fields(m, "supplier_name", "supplier_tin", "client_name", "client_tin"),
                **fields(m, "invoice_number", "invoice_date", "due_date"),
                **fields(item, "description", "qty", "price", "total"),
                **fields(m, "tax_label", "tax_amount", "total_amount"),
                file=F.col(path_col),
            ),
        )

    return bind({"m": invoice_metadata(lines), "items": invoice_line_items(lines)}, rows)


def parse_invoices(
    docs: DataFrame,
    lines_col: str = "lines",
    path_col: str = "path",
    company_id: int = 1,
    country: str = "USA",
    processed_date: str | None = None,
) -> DataFrame:
    """Full T1+T2+T3 plan: documents (path, lines[]) → canonical invoice rows
    (one per line item, metadata denormalized — reference
    lib/pipeline_runner.py:148-164). The Columns are built once per Spark
    application (``lines.plan_columns``).
    """
    return parse_rows(docs, _invoice_rows, lines_col, path_col, company_id, country, processed_date)
