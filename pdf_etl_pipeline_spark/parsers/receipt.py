"""Receipt parser — T4 ``extract_product_info`` (SURVEY.md §2.8;
reference /root/reference/lib/parse_utils.py:318-809) plus the F15
price-line grammars (PRICE_PATTERNS, lib/parse_utils.py:366-394).

Consumes OCR-grouped visual lines (output of
``operators.sessionize.group_ocr_words`` — W2) or fixture lines, and emits
canonical invoice rows. Entirely native Column expressions: the six
first-match-wins line grammars become one ``coalesce``/``when`` chain per
line inside an array ``transform``.

Deliberate divergence from the reference, documented per SURVEY §7.3(d):
``processed_date`` is an explicit parameter, not ``date.today()``
(lib/parse_utils.py:785 nondeterminism).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.functions import scalars as S
from pdf_etl_pipeline_spark.parsers.lines import (
    cascade,
    first_extract,
    first_matching_line,
    plan_columns,
)

M = r"[\d,]+\.\d{2}"
# Grammar number token (reference lib/parse_utils.py:366-383): digits with a
# REQUIRED 1-2 digit decimal part, dot or comma separator ("29.90"/"29,90").
NUM = r"\d+(?:[.,]\d{1,2})"
# F15 grammars, first-match-wins, all six of the reference's PRICE_PATTERNS
# in order; anchored at line start only (reference uses .match, no $), X is
# case-insensitive with optional surrounding spaces:
#   P1: SKU qty X price total    "9556268000210 3 X 15.00 45.00"
#   P2: SKU X price total        "9072363 X 29.90 29.90" (qty inferred)
#   P3: SKU price qty X total    "9021937 3.90 1 X 3.90" / "... 1X 3.90"
#   P4: price qty X total        "3.90 1 X 3.90"
#   P5: qty X price total        "1 X 29.90 29.90" / "1X 8.90 8.90"
#   P6: price ... qty X total    "8.98 6942131561408 1X 8.90"
P1 = rf"^(\d{{5,}})\s+(\d{{1,3}})\s*(?:X|x)\s*({NUM})\s+({NUM})"
P2 = rf"^(\d{{5,}})\s*(?:X|x)\s*({NUM})\s+({NUM})"
P3 = rf"^(\d{{5,}})\s+({NUM})\s+(\d+)\s*(?:X|x)\s*({NUM})"
P4 = rf"^({NUM})\s+(\d+)\s*(?:X|x)\s*({NUM})"
P5 = rf"^(\d{{1,3}})\s*(?:X|x)\s*({NUM})\s*({NUM})"
P6 = rf"^({NUM}).*?(\d+)\s*(?:X|x)\s*({NUM})"
PATTERNS = (P1, P2, P3, P4, P5, P6)
ANY_ITEM = "|".join(f"(?:{p})" for p in PATTERNS)
# reference _match_price_line skips totals/tenders outright
NOT_ITEM_WORDS = r"TOTAL|CASH|CHANGE"

# "2.55 S@6% 42.45 GST": the two numbers around the rate — smaller is the
# tax, larger the subtotal (reference disambiguation, lib/parse_utils.py:591)
TAX_LINE = r"^([\d,]+\.\d+)\s+S?@?(\d+(?:\.\d+)?)%\s+([\d,]+\.\d+)\s+GST"

SUPPLIER_SUFFIX = r"\b(SDN BHD|BHD|LTD|INC|LLC|ENTERPRISE|TRADING|PLUMBING|HARDWARE)\b"
ADDRESS_HINT = r"\b(LOT|JALAN|STREET|ROAD|AVENUE|AVE|KAWASAN|SELANGOR|LANE)\b"

# W3 look-back (reference lib/parse_utils.py:735-761): description = nearest
# preceding line that is not itself a price/header/total/date line, within a
# 6-line window above the item.
NOT_DESC = (
    rf"({ANY_ITEM})|({TAX_LINE})|^TOTAL\b|{SUPPLIER_SUFFIX}|{ADDRESS_HINT}"
    r"|GST\s+ID|^[\d,. :/-]+$"
)
LOOKBACK = 6


# per-grammar capture-group positions (0 = no group; P2 qty is inferred)
GROUPS = {
    "sku": (1, 1, 1, 0, 0, 0),
    "qty": (2, 0, 3, 2, 1, 2),
    "price": (3, 2, 2, 1, 2, 1),
    "total": (4, 3, 4, 3, 3, 3),
}


def _pick(l: Column, field: str) -> Column:
    """First-match-wins extraction over the six grammars."""
    out = None
    for pat, g in zip(PATTERNS, GROUPS[field]):
        if g:
            val = F.regexp_extract(l, pat, g)
        else:
            val = F.lit("1") if field == "qty" else F.lit(None).cast("string")
        out = F.when(l.rlike(pat), val) if out is None else out.when(l.rlike(pat), val)
    return out


def grammar_float(c: Column) -> Column:
    """Grammar number → double: ``,`` is a DECIMAL separator here
    (reference float(price.replace(',', '.')), lib/parse_utils.py:421)."""
    return F.nullif(F.translate(c, ",", "."), F.lit("")).try_cast("double")


def _item_struct(s: Column, lines: Column) -> Column:
    l = s["line"]  # whitespace-collapsed (reference collapses before .match)
    pos = s["pos"]  # 0-based index of the item line
    # 1-based window of up to LOOKBACK lines strictly above the item
    start = F.greatest(pos - (LOOKBACK - 1), F.lit(1))
    window = F.slice(lines, start, F.greatest(pos - start + 1, F.lit(0)))
    desc_cands = F.filter(
        F.reverse(window), lambda x: (~x.rlike(NOT_DESC)) & (F.trim(x) != "")
    )
    desc = F.try_element_at(desc_cands, F.lit(1))
    qty_raw = _pick(l, "qty")
    # reference guard: a qty that looks like a SKU (≥5 digits) is discarded
    # and re-inferred from total/price downstream
    qty = F.when(F.length(qty_raw) >= 5, F.lit(None).cast("string")).otherwise(qty_raw)
    return F.struct(
        _pick(l, "sku").alias("sku"),
        desc.alias("desc"),
        grammar_float(qty).alias("qty"),
        grammar_float(_pick(l, "price")).alias("price"),
        grammar_float(_pick(l, "total")).alias("total"),
    )


def _receipt_plan(
    lines_col: str, path_col: str, company_id: int, country: str, processed_date: str | None
) -> tuple:
    lines = F.col(lines_col)
    tax_line = first_matching_line(lines, TAX_LINE)
    n1 = S.parse_float(F.regexp_extract(tax_line, TAX_LINE, 1))
    n2 = S.parse_float(F.regexp_extract(tax_line, TAX_LINE, 3))
    # items with their 0-based position, so the look-back window can slice
    # the preceding lines (transform's 2-arg lambda receives (elem, index));
    # lines are whitespace-collapsed for grammar matching (reference
    # _match_price_line re.sub(r"\s+"," ") + strip), and totals/tenders
    # lines are never items
    item_lines = F.filter(
        F.transform(
            lines,
            lambda l, i: F.struct(S.collapse_whitespace(l).alias("line"), i.alias("pos")),
        ),
        lambda s: s["line"].rlike(ANY_ITEM) & ~F.upper(s["line"]).rlike(NOT_ITEM_WORDS),
    )

    base = [
        F.col(path_col).alias("file"),
        F.coalesce(
            first_matching_line(lines, SUPPLIER_SUFFIX), F.try_element_at(lines, F.lit(1))
        ).alias("supplier_name"),
        first_matching_line(lines, ADDRESS_HINT).alias("supplier_address"),
        cascade(lines, r"GST\s+ID\s+No\s*:?\s*(\d{6,})", r"\b([RT]\d{6,})\b").alias(
            "invoice_number"
        ),
        S.find_dates_in_lines(lines).alias("invoice_date"),
        S.parse_float(F.regexp_extract(tax_line, TAX_LINE, 2)).alias("_rate"),
        F.least(n1, n2).alias("tax_amount"),
        F.greatest(n1, n2).alias("subtotal_amount"),
        S.parse_float(
            first_extract(lines, rf"^TOTAL\b.*?({M})\s*$")
        ).alias("_total_line"),
        F.transform(item_lines, lambda s: _item_struct(s, lines)).alias("_items"),
    ]
    # A6: per-receipt subtotal = sum of item totals (fallback when no tax line)
    items_sum = F.aggregate(
        F.col("_items"), F.lit(0.0), lambda acc, it: acc + F.coalesce(it["total"], F.lit(0.0))
    )
    enriched = {
        "total_amount": S.fix_null_total(
            F.col("_total_line"), F.col("subtotal_amount"), F.col("tax_amount")
        ),
        "_items_sum": items_sum,
    }
    exploded = [F.col("*"), F.posexplode_outer("_items").alias("pos", "item")]
    qty_fixed = S.infer_qty(F.col("item.qty"), F.col("item.price"), F.col("item.total"))
    out = [
        F.lit(company_id).alias("company_id"),
        F.lit(country).alias("country"),
        (
            F.lit(processed_date).cast("date") if processed_date else F.current_date()
        ).alias("processed_date"),
        F.col("supplier_name"),
        F.col("supplier_address"),
        F.col("invoice_number"),
        F.col("invoice_date"),
        F.coalesce(F.col("item.desc"), F.col("item.sku")).alias("description"),
        F.col("item.sku").alias("sku"),
        qty_fixed.alias("qty"),
        F.col("item.price").alias("price"),
        F.col("item.total").alias("total"),
        F.col("_rate").alias("tax_label"),
        F.col("tax_amount"),
        F.col("subtotal_amount"),
        F.col("total_amount"),
        F.col("_items_sum").alias("items_total"),
        F.col("file"),
    ]
    return base, enriched, exploded, out


def parse_receipts(
    docs: DataFrame,
    lines_col: str = "lines",
    path_col: str = "path",
    company_id: int = 1,
    country: str = "USA",
    processed_date: str | None = None,
) -> DataFrame:
    base, enriched, exploded, out = plan_columns(
        docs, _receipt_plan, lines_col, path_col, company_id, country, processed_date
    )
    return (
        docs.select(*base)
        .withColumns(enriched)
        .select(*exploded)
        .drop("_items")
        .select(*out)
    )
