"""Parser catalog queries — T1–T12 over pre-extracted fixture lines
(FIXTURES.md §2/§5). EVERY parser query — including T7/T8 and the full
dispatch union T11 — has a full DuckDB oracle (independent list/regex
re-implementation; T11's oracle is a UNION ALL BY NAME of all branch
oracles), plus pytest fixtures for row-level assertions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdf_etl_pipeline_spark.catalog import register
from pdf_etl_pipeline_spark.catalog._ducksql import (
    d_first_extract,
    d_first_line,
    d_mined_date,
    d_parse_date,
    d_parse_float,
)
from pdf_etl_pipeline_spark.parsers import fixtures as FX
from pdf_etl_pipeline_spark.parsers.invoice import parse_invoices
from pdf_etl_pipeline_spark.parsers.nc import (
    parse_award_letter,
    parse_bid_tabs,
    parse_bids_as_read,
    parse_documents_by_type,
    parse_invitation,
    parse_item_c,
)
from pdf_etl_pipeline_spark.session import tune

_PROCESSED = "2023-06-01"


def _docs_values(docs) -> str:
    rows = ",\n  ".join(
        "('" + path.replace("'", "''") + "', " + FX.duck_lines_literal(lines) + ")"
        for path, lines in docs
    )
    return f"docs(path, lines) AS (VALUES\n  {rows}\n)"


# ---------------------------------------------------------------------------
# T1+T2+T3: invoice pipeline over the 3 invoice fixtures
# ---------------------------------------------------------------------------
_ITEM_RE = (
    r"^([0-9]+)\.\s+(.+?)\s+([0-9,]+(?:\.[0-9]+)?)\.?\s+"
    r"([0-9,]+(?:\.[0-9]+)?)\.?\s+([0-9,]+(?:\.[0-9]+)?)\.?\s*$"
)
_TIN_RE2 = r"(^|[^G])TIN[:\s]+([0-9]{6,})"

_bill_to = d_first_extract("lines", r"Bill\s+to:\s*(.+?)\s*$")
_inv_no = (
    "COALESCE("
    + d_first_extract("lines", r"Invoice\s*#\s*(\S+)")
    + ", "
    + d_first_extract("lines", r"\b([RT][0-9]{6,})\b")
    + ", "
    + d_first_extract("lines", r"GST\s+ID\s+No\s*:?\s*([0-9]{6,})")
    + ")"
)
_inv_date = (
    "COALESCE("
    + d_parse_date(d_first_extract("lines", r"Invoice\s+Date:\s*(.+?)\s*$"))
    + ", "
    + d_mined_date("lines")
    + ")"
)
_due_date = d_parse_date(d_first_extract("lines", r"Due\s+Date:\s*(.+?)\s*$"))
_gst_line = d_first_line("lines", r"GST\s+[0-9]+(\.[0-9]+)?\s*%")
_tax_label = (
    "TRY_CAST(nullif(regexp_extract(" + _gst_line + ", '([0-9]+\\.?[0-9]*)\\s*%', 1), '') AS DOUBLE)"
)
_tax_amount = d_parse_float(
    "nullif(regexp_extract(" + _gst_line + ", '([0-9,]+\\.[0-9]{2})\\s*$', 1), '')"
)
_subtotal = d_parse_float(d_first_extract("lines", r"^Sub\s*Total\s+\$?([0-9,]+(?:\.[0-9]+)?)"))
_total_raw = d_parse_float(d_first_extract("lines", r"^Total\s+\$?([0-9,]+(?:\.[0-9]+)?)"))
_hdr_pos = (
    "list_position(list_transform(lines, l -> "
    "regexp_matches(l, '^ID\\s+DESCRIPTION\\s+QTY\\s+PRICE\\s+TOTAL')), true)"
)
_qty = d_parse_float("regexp_extract(item_line, '" + _ITEM_RE + "', 3)")
_price = d_parse_float("regexp_extract(item_line, '" + _ITEM_RE + "', 4)")
_total = d_parse_float("regexp_extract(item_line, '" + _ITEM_RE + "', 5)")

_INVOICE_ORACLE = f"""
WITH {_docs_values(FX.INVOICE_DOCS)},
meta AS (
  SELECT path, lines,
    nullif(array_to_string(list_filter(list_transform(lines[1:2], l -> trim(l)), s -> s <> ''), ' '), '') AS supplier_name,
    list_filter(list_transform(lines, l -> regexp_extract(l, '{_TIN_RE2}', 2)), x -> x <> '') AS tins,
    nullif(regexp_replace({_bill_to}, '^M/s:\\s*', ''), '') AS client_name,
    {_inv_no} AS invoice_number,
    {_inv_date} AS invoice_date,
    {_due_date} AS due_date,
    {_tax_label} AS tax_label,
    {_tax_amount} AS tax_amount,
    {_subtotal} AS subtotal_amount,
    {_total_raw} AS total_raw,
    {_hdr_pos} AS hdr
  FROM docs
),
items AS (
  SELECT *, unnest(list_filter(lines[hdr+1:], l -> regexp_matches(l, '{_ITEM_RE}'))) AS item_line
  FROM meta WHERE hdr IS NOT NULL AND hdr > 0
)
SELECT
  1 AS company_id, 'USA' AS country, DATE '{_PROCESSED}' AS processed_date,
  supplier_name, tins[1] AS supplier_tin, client_name, tins[2] AS client_tin,
  invoice_number, invoice_date, due_date,
  regexp_extract(item_line, '{_ITEM_RE}', 2) AS description,
  {_qty} AS qty,
  {_price} AS price,
  {_total} AS total,
  tax_label, tax_amount,
  COALESCE(total_raw, COALESCE(subtotal_amount, 0.0) + COALESCE(tax_amount, 0.0)) AS total_amount,
  path AS file
FROM items
ORDER BY file, description"""


@register(
    "t1_t3_invoice_pipeline",
    oracle=_INVOICE_ORACLE,
    doc="T1 metadata + T2 section slice + T3 line grammar, end-to-end on 3 fixture invoices; oracle is an independent DuckDB list/regex program",
)
def t1_t3_invoice_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    out = parse_invoices(FX.corpus_df(spark, FX.INVOICE_DOCS), processed_date=_PROCESSED)
    return out.orderBy("file", "description")


# ---------------------------------------------------------------------------
# T5: award letter
# ---------------------------------------------------------------------------
_state = d_first_extract("lines", r"^STATE OF ([A-Z ]+?)\s*$")
_owner = "nullif(" + d_first_line("lines", r"DEPARTMENT OF (TRANSPORTATION|HIGHWAYS)") + ", '')"
_contract_no = d_first_extract("lines", r"Contract No\.?\s+(\S+)")
_fed_aid = d_first_extract("lines", r"Federal Aid No\.?:?\s+(.+?)\s*$")
_county = d_first_extract("lines", r"County:\s+(.+?)\s*$")
_descr = d_first_extract("lines", r"Description:\s+(.+?)\s*$")
_vendor = d_first_extract("lines", r"inform you that (.+?),? has been")
_letting = d_parse_date(d_first_extract("lines", r"submitted on ([A-Za-z]+ [0-9]{1,2}, [0-9]{4})"))
_amt_same = d_first_extract("lines", r"in the amount of\s*\$([0-9,]+\.[0-9]{2})")
_amt_next = (
    "nullif(regexp_extract(lines[list_position(list_transform(lines, "
    "l -> regexp_matches(l, 'in the amount of')), true) + 1], "
    "'\\$([0-9,]+\\.[0-9]{2})', 1), '')"
)
_award_value = d_parse_float("COALESCE(" + _amt_same + ", " + _amt_next + ")")

_AWARD_ORACLE = f"""
WITH {_docs_values([FX.NC_AWARD_LETTER])}
SELECT
  'nc_award_letter' AS doc_type, path AS file,
  {_state} AS state,
  {_owner} AS owner,
  {_contract_no} AS contract_id,
  {_fed_aid} AS project_number,
  {_county} AS county,
  {_descr} AS description,
  {_vendor} AS vendor,
  {_letting} AS letting_date,
  {_award_value} AS award_value
FROM docs"""


@register(
    "t5_award_letter",
    oracle=_AWARD_ORACLE,
    doc="T5 award-letter single-row parser (incl. next-line award-amount fallback)",
)
def t5_award_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return parse_award_letter(FX.corpus_df(spark, [FX.NC_AWARD_LETTER]))


# ---------------------------------------------------------------------------
# T9: invitation to bid
# ---------------------------------------------------------------------------
_COMBO = r"^(DA[0-9]{5,})\s*[–-]\s*(.+?), in (.+?) County"
_division = d_first_extract("lines", r"in Division (\w+)")
_combo1 = d_first_extract("lines", _COMBO, 1)
_combo2 = d_first_extract("lines", _COMBO, 2)
_combo3 = d_first_extract("lines", _COMBO, 3)
_avail = d_parse_date(d_first_extract("lines", r"Date of Availability for this Contract is (.+?)\s*$"))
_compl = d_parse_date(d_first_extract("lines", r"Completion Date for this Contract is (.+?)\s*$"))
_open = d_parse_date(d_first_extract("lines", r"Bid Opening will be held on (.+?)\s*$"))

_INVITATION_ORACLE = f"""
WITH {_docs_values([FX.NC_INVITATION])}
SELECT
  'nc_invitation_to_bid' AS doc_type, path AS file,
  {_state} AS state,
  {_owner} AS owner,
  {_division} AS division,
  {_combo1} AS contract_id,
  {_combo2} AS proposal_description,
  {_combo3} AS county,
  {_avail} AS date_available,
  {_compl} AS completion_date,
  {_open} AS letting_date
FROM docs"""


@register(
    "t9_invitation_to_bid",
    oracle=_INVITATION_ORACLE,
    doc="T9 invitation-to-bid single-row parser (contract/description combo grammar)",
)
def t9_invitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return parse_invitation(FX.corpus_df(spark, [FX.NC_INVITATION]))


# ---------------------------------------------------------------------------
# T6: bids as read (n contractor rows)
# ---------------------------------------------------------------------------
_BIDDER_RE = r"^([A-Z][A-Za-z .&-]+?)\s+([0-9,]+\.[0-9]{2})\s*$"
_b_date = d_parse_date(d_first_extract("lines", r"Bid Opening\s+([0-9]{1,2}/[0-9]{1,2}/[0-9]{4})"))
_b_time = d_first_extract("lines", r"^Time\s+(.+?)\s*$")
_b_contract = d_first_extract("lines", r"^Contract\s+(\w+)\s*$")
_b_desc = d_first_extract("lines", r"Description:?\s*(.+?)\s*$")
_b_est = d_parse_float(d_first_extract("lines", r"ENGINEERS ESTIMATE\s+\$?([0-9,]+\.[0-9]{2})"))
_b_nbids = (
    "TRY_CAST(" + d_first_extract("lines", r"TOTAL BIDS RECEIVED:?\s*\(([0-9]+)\)") + " AS INTEGER)"
)
_b_amount = d_parse_float("regexp_extract(b, '" + _BIDDER_RE + "', 2)")

_BIDS_ORACLE = f"""
WITH {_docs_values([FX.NC_BIDS_AS_READ])},
hdr AS (
  SELECT path, lines,
    {_b_date} AS letting_date,
    {_b_time} AS letting_time,
    {_b_contract} AS contract_id,
    {_b_desc} AS description,
    {_b_est} AS engineers_estimate,
    {_b_nbids} AS total_bids_received
  FROM docs
)
SELECT 'nc_bids_as_read' AS doc_type, path AS file,
  letting_date, letting_time, contract_id, description,
  engineers_estimate, total_bids_received,
  regexp_extract(b, '{_BIDDER_RE}', 1) AS contractor_name,
  {_b_amount} AS amount_bid
FROM (
  SELECT *, unnest(list_filter(lines,
      l -> regexp_matches(l, '{_BIDDER_RE}') AND NOT regexp_matches(l, 'ESTIMATE|TOTAL BIDS'))) AS b
  FROM hdr
)
ORDER BY contractor_name"""


@register(
    "t6_bids_as_read",
    oracle=_BIDS_ORACLE,
    doc="T6 bids-as-read UDTF: header fields × exploded contractor money lines",
)
def t6_bids_as_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return parse_bids_as_read(FX.corpus_df(spark, [FX.NC_BIDS_AS_READ])).orderBy(
        "contractor_name"
    )


# ---------------------------------------------------------------------------
# T7 / T8 / T11: rows-only (non-trivially SQL-expressible; pytest covers
# exact values against hand-written expectations)
# ---------------------------------------------------------------------------
@register(
    "t7_bid_tabs",
    doc="T7 bid tabs: items × bidders positional join (rows-only; exact values in tests/test_parsers.py)",
)
def t7_bid_tabs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return parse_bid_tabs(FX.corpus_df(spark, [FX.NC_BID_TABS])).orderBy(
        "line_no", "vendor_name"
    )


@register(
    "t8_item_c",
    doc="T8 item C: sentinel-block segmentation × vendor rows (rows-only; exact values in tests/test_parsers.py)",
)
def t8_item_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return parse_item_c(FX.corpus_df(spark, [FX.NC_ITEM_C])).orderBy(
        "block_id", "vendor_name"
    )


@register(
    "t11_dispatch_union",
    doc="T11/T12/U1: detect → one CASE over per-type row arrays → inline into RECORD_SCHEMA (rows-only)",
)
def t11_dispatch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    out = parse_documents_by_type(FX.corpus_df(spark, FX.INVOICE_DOCS + FX.ALL_NC_DOCS))
    return out.orderBy("doc_type", "file")


# ---------------------------------------------------------------------------
# T4: receipt parser (F15 price grammars + F16 qty inference + A6 item sum)
# ---------------------------------------------------------------------------
from pdf_etl_pipeline_spark.parsers import receipt as R  # noqa: E402
from pdf_etl_pipeline_spark.operators.sessionize import group_ocr_words  # noqa: E402

_any_item = R.ANY_ITEM
_tax_re = R.TAX_LINE
# whitespace-collapse applied before grammar matching (reference
# _match_price_line re.sub + strip); totals/tenders lines are never items
_collapse = "trim(regexp_replace(%s, '\\s+', ' ', 'g'))"
_is_item = (
    f"regexp_matches(%s, '{_any_item}') AND NOT regexp_matches(upper(%s), '{R.NOT_ITEM_WORDS}')"
)


def _case6(field: str) -> str:
    """first-match-wins CASE over the six reference grammars (group map
    shared with the Spark side via R.GROUPS; 0 = no group: qty falls back
    to literal 1 for P2, sku to NULL)."""
    out = ["CASE"]
    for pat, g in zip(R.PATTERNS, R.GROUPS[field]):
        if g:
            out.append(f"WHEN regexp_matches(l, '{pat}') THEN regexp_extract(l, '{pat}', {g})")
        else:
            out.append(f"WHEN regexp_matches(l, '{pat}') THEN " + ("'1'" if field == "qty" else "NULL"))
    out.append("ELSE NULL END")
    return " ".join(out)


def _d_money(e: str) -> str:
    """Grammar number → double; ',' is a DECIMAL separator in the grammars."""
    return f"TRY_CAST(nullif(replace({e}, ',', '.'), '') AS DOUBLE)"


_d_sku = _case6("sku")
_qty_raw = _case6("qty")
_d_qty = _d_money(f"CASE WHEN length({_qty_raw}) >= 5 THEN NULL ELSE {_qty_raw} END")
_d_price = _d_money(_case6("price"))
_d_total = _d_money(_case6("total"))
_d_taxline = d_first_line("lines", _tax_re)
_d_n1 = d_parse_float(f"regexp_extract({_d_taxline}, '{_tax_re}', 1)")
_d_n2 = d_parse_float(f"regexp_extract({_d_taxline}, '{_tax_re}', 3)")
_d_rate = d_parse_float(f"regexp_extract({_d_taxline}, '{_tax_re}', 2)")
_d_totline = d_parse_float(d_first_extract("lines", r"^TOTAL\b.*?([0-9,]+\.[0-9]{2})\s*$"))
_d_suffix = d_first_line("lines", R.SUPPLIER_SUFFIX)
_d_addr = d_first_line("lines", R.ADDRESS_HINT)
_d_invno = (
    "COALESCE("
    + d_first_extract("lines", r"GST\s+ID\s+No\s*:?\s*([0-9]{6,})")
    + ", "
    + d_first_extract("lines", r"\b([RT][0-9]{6,})\b")
    + ")"
)
_d_desc = (
    f"list_filter(lines[greatest(pos1 - {R.LOOKBACK}, 1) : pos1 - 1], "
    "x -> NOT regexp_matches(x, '" + R.NOT_DESC + "') AND trim(x) <> '')[-1]"
)

_RECEIPT_ORACLE = f"""
WITH {_docs_values([FX.RECEIPT_LINES, FX.RECEIPT_LINES_2])},
meta AS (
  SELECT path, lines,
    COALESCE(nullif({_d_suffix}, ''), lines[1]) AS supplier_name,
    nullif({_d_addr}, '') AS supplier_address,
    {_d_invno} AS invoice_number,
    {d_mined_date('lines')} AS invoice_date,
    {_d_rate} AS tax_label,
    least({_d_n1}, {_d_n2}) AS tax_amount,
    greatest({_d_n1}, {_d_n2}) AS subtotal_amount,
    {_d_totline} AS total_line,
    list_filter(list_transform(lines, l -> {_collapse % 'l'}), l -> {_is_item % ('l', 'l')}) AS item_lines
  FROM docs
),
withsum AS (
  SELECT *,
    COALESCE(total_line, COALESCE(subtotal_amount, 0.0) + COALESCE(tax_amount, 0.0)) AS total_amount,
    list_sum(list_transform(item_lines, l -> COALESCE({_d_total}, 0.0))) + 0.0 AS items_total
  FROM meta
),
items AS (
  SELECT *, generate_subscripts(lines, 1) AS pos1, unnest(lines) AS l0
  FROM withsum
),
collapsed AS (
  SELECT *, {_collapse % 'l0'} AS l FROM items
),
parsed AS (
  SELECT *,
    {_d_sku} AS sku,
    {_d_desc} AS desc_lb,
    {_d_qty} AS qty0,
    {_d_price} AS price,
    {_d_total} AS total,
    {_d_total} / nullif({_d_price}, 0) AS ratio
  FROM collapsed WHERE {_is_item % ('l', 'l')}
)
SELECT 1 AS company_id, 'USA' AS country, DATE '{_PROCESSED}' AS processed_date,
  supplier_name, supplier_address, invoice_number, invoice_date,
  COALESCE(desc_lb, sku) AS description, sku,
  CASE WHEN (qty0 IS NULL OR abs(qty0 * price - total) > 0.02)
            AND ratio IS NOT NULL AND abs(ratio - round(ratio)) < 0.02
            AND ratio >= 0.5 AND ratio <= 999
       THEN round(ratio) ELSE qty0 END AS qty,
  price, total, tax_label, tax_amount, subtotal_amount, total_amount,
  items_total, path AS file
FROM parsed
ORDER BY description NULLS FIRST, total"""


@register(
    "t4_receipt_products",
    oracle=_RECEIPT_ORACLE,
    doc="T4 receipt parser: F15 price-line grammars (first-match-wins), tax/subtotal disambiguation, F16 qty inference, A6 item-sum",
)
def t4_receipt_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    out = R.parse_receipts(
        FX.corpus_df(spark, [FX.RECEIPT_LINES, FX.RECEIPT_LINES_2]), processed_date=_PROCESSED
    )
    from pyspark.sql import functions as F

    return out.orderBy(F.asc_nulls_first("description"), "total")


# ---------------------------------------------------------------------------
# W2 proper: OCR word-box grouping (spatial sessionization) with oracle
# ---------------------------------------------------------------------------
_WORDS = [
    ("r.jpg", 0, 100, 8, 110, "MR."),
    ("r.jpg", 10, 102, 40, 112, "D.I.Y."),
    ("r.jpg", 50, 105, 90, 115, "SDN"),
    ("r.jpg", 95, 104, 120, 114, "BHD"),
    ("r.jpg", 0, 140, 30, 150, "GST"),
    ("r.jpg", 35, 143, 60, 153, "ID"),
    ("r.jpg", 65, 141, 99, 151, "No"),
    ("r.jpg", 0, 170, 60, 180, "9556268000210"),
    ("r.jpg", 70, 171, 80, 181, "3"),
    ("r.jpg", 90, 169, 95, 179, "X"),
    ("r.jpg", 100, 172, 130, 182, "15.00"),
    ("r.jpg", 140, 170, 170, 180, "45.00"),
    ("s.jpg", 5, 10, 25, 20, "PYEDRAIN"),
    ("s.jpg", 30, 12, 70, 22, "PLUMBING"),
    ("s.jpg", 5, 45, 40, 55, "TOTAL"),
    ("s.jpg", 45, 44, 80, 54, "84.80"),
]
_words_rows = ",\n  ".join(
    f"('{f}', {a}, {b}, {c}, {d}, '{t}')" for f, a, b, c, d, t in _WORDS
)

_OCR_GROUP_ORACLE = f"""
WITH w(filename, x0, y0, x2, y2, line) AS (VALUES
  {_words_rows}
),
g AS (
  SELECT *, CASE WHEN lag(y0) OVER win IS NULL OR y0 - lag(y0) OVER win > 10
                 THEN 1 ELSE 0 END AS ns
  FROM w WINDOW win AS (PARTITION BY filename ORDER BY y0, x0)
),
s AS (
  SELECT *, CAST(SUM(ns) OVER (PARTITION BY filename ORDER BY y0, x0
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS line_id
  FROM g
)
SELECT filename, line_id, MIN(x0) AS x0, MIN(y0) AS y0, MAX(x2) AS x2, MAX(y2) AS y2,
       string_agg(line, ' ' ORDER BY x0) AS line
FROM s GROUP BY filename, line_id ORDER BY filename, line_id"""


@register(
    "w2_ocr_group_words",
    oracle=_OCR_GROUP_ORACLE,
    doc="W2 proper: OCR word boxes → visual lines via spatial gap sessionization (reference group_ocr_words)",
)
def w2_ocr_group_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    words = spark.createDataFrame(
        _WORDS, "filename string, x0 int, y0 int, x2 int, y2 int, line string"
    )
    return group_ocr_words(words)


# ---------------------------------------------------------------------------
# T7 oracle: bid tabs (items × bidders positional join)
# ---------------------------------------------------------------------------
from pdf_etl_pipeline_spark.parsers import nc as NC  # noqa: E402

_T7_ITEM = r"^[0-9]{3,4}\s+\S+"
_T7_MONEY_FULL = r"\$?[0-9,]+\.[0-9]{2}"
_t7_letting = d_parse_date(d_first_extract("lines", r"Letting Date:?\s*([A-Za-z]{3,9} [0-9]{1,2}, [0-9]{4})"))
_t7_contract = d_first_extract("lines", r"Contract:?\s+(DA[0-9]{5,})")
_t7_call = d_first_extract("lines", r"Call Number:?\s*([0-9]+)")
_t7_fed = d_first_extract("lines", r"FED AID:?\s*(.+?)\s*$")
_t7_counties = d_first_extract("lines", r"Counties:?\s*(.+?)\s*$")
_t7_qty = d_parse_float(r"nullif(regexp_extract(l, '\)\s+([0-9,]+)\s', 1), '')")
_t7_up = d_parse_float("pairs[(vpos1 - 1) * 2 + 1]")
_t7_ab = d_parse_float("pairs[(vpos1 - 1) * 2 + 2]")

_T7_ORACLE = f"""
WITH {_docs_values([FX.NC_BID_TABS])},
hdr AS (
  SELECT path, lines,
    {_t7_letting} AS letting_date,
    {_t7_contract} AS contract_id,
    {_t7_call} AS call_number,
    {_t7_fed} AS fed_aid,
    {_t7_counties} AS counties,
    list_position(list_transform(lines, l -> regexp_matches(l, '{_T7_ITEM}')), true) AS first_item
  FROM docs
),
vd AS (
  SELECT *,
    list_filter(lines[1:first_item-1],
                l -> regexp_matches(l, '{NC.COMPANY_SUFFIX}')
                 AND regexp_matches(l, '^[A-Z][A-Z .&-]+$')) AS vendors,
    list_filter(lines, l -> regexp_matches(l, '{_T7_ITEM}')) AS items
  FROM hdr
),
parsed AS (
  SELECT *, unnest(items) AS l FROM vd
),
enriched AS (
  SELECT *,
    regexp_extract(l, '^([0-9]{{3,4}})\\s', 1) AS line_no,
    regexp_extract(l, '^[0-9]{{3,4}}\\s+(\\S+)', 1) AS item_no,
    nullif(regexp_extract(l, '^[0-9]{{3,4}}\\s+\\S+\\s+(?:SP\\s+)?(.+?)\\s*\\(', 1), '') AS item_description,
    nullif(regexp_extract(l, '\\(([A-Z]+)\\)', 1), '') AS unit,
    CASE WHEN regexp_matches(l, 'Lump Sum') THEN NULL ELSE {_t7_qty} END AS qty,
    list_filter(string_split_regex(l, '\\s+'),
                t -> regexp_full_match(t, '{_T7_MONEY_FULL}')) AS money
  FROM parsed
),
pv AS (
  SELECT *, generate_subscripts(vendors, 1) AS vpos1, unnest(vendors) AS vendor_name,
    money[greatest(len(money) - 2 * len(vendors) + 1, 1):] AS pairs
  FROM enriched
)
SELECT 'nc_bid_tabs' AS doc_type, path AS file, letting_date, contract_id,
  call_number, fed_aid, counties, line_no, item_no, item_description, unit, qty,
  vendor_name,
  {_t7_up} AS unit_price,
  {_t7_ab} AS amount_bid
FROM pv
ORDER BY line_no, vendor_name"""


# ---------------------------------------------------------------------------
# T8 oracle: item C (sentinel-block segmentation × vendors)
# ---------------------------------------------------------------------------
_T8_VENDOR = r"^(.+?)\s\s+(.+?)\s+([0-9,]+\.[0-9]{2})\s+(-?[0-9]+(?:\.[0-9]+)?)\s*$"
_t8_typeof = d_first_extract("lines", r"^TYPE OF WORK\s+(.+?)\s*$")
_t8_loc = d_first_extract("lines", r"^LOCATION\s+(.+?)\s*$")
_t8_est = d_parse_float(d_first_extract("lines", r"^ESTIMATE\s+([0-9,]+\.[0-9]{2})\s*$"))
_t8_esttot = d_parse_float(d_first_extract("lines", r"^ESTIMATE TOTAL\s+([0-9,]+\.[0-9]{2})"))


def _d_caps_date(expr: str) -> str:
    return (
        "COALESCE(" + d_parse_date(expr)
        + f", CAST(try_strptime(trim(COALESCE({expr}, '')), '%b %d %Y') AS DATE))"
    )


_t8_avail = _d_caps_date(d_first_extract("lines", r"^DATE AVAILABLE\s+(.+?)\s*$"))
_t8_final = _d_caps_date(d_first_extract("lines", r"^FINAL COMPLETION\s+(.+?)\s*$"))
_t8_vt = d_parse_float("regexp_extract(v, '" + _T8_VENDOR + "', 3)")
_t8_pd = d_parse_float("regexp_extract(v, '" + _T8_VENDOR + "', 4)")

_T8_ORACLE = f"""
WITH {_docs_values([FX.NC_ITEM_C])},
pos AS (
  SELECT path, generate_subscripts(lines, 1) AS pos1, unnest(lines) AS line FROM docs
),
blk AS (
  SELECT *, CAST(SUM(CASE WHEN regexp_matches(line, '^DA[0-9]{{5}}\\s*$') THEN 1 ELSE 0 END)
         OVER (PARTITION BY path ORDER BY pos1 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS block_id
  FROM pos
),
blocks AS (
  SELECT path, block_id, list(line ORDER BY pos1) AS lines
  FROM blk WHERE block_id > 0 GROUP BY path, block_id
),
fields AS (
  SELECT path, block_id, lines,
    lines[1] AS contract_id,
    nullif(regexp_extract(lines[2], '^([0-9]+\\.[0-9]+)$', 1), '') AS project_number,
    {_t8_typeof} AS type_of_work,
    {_t8_loc} AS location,
    {_t8_est} AS estimate,
    {_t8_avail} AS date_available,
    {_t8_final} AS final_completion,
    {_t8_esttot} AS estimate_total,
    list_position(list_transform(lines, l -> regexp_matches(l, '^\\$ TOTALS')), true) AS s
  FROM blocks
),
sect AS (SELECT *, lines[s+1:] AS after FROM fields),
sect2 AS (
  SELECT *, COALESCE(nullif(list_position(
      list_transform(after, l -> regexp_matches(l, '^(ESTIMATE|LETTING) TOTAL')), true), 0),
      len(after) + 1) AS e
  FROM sect
),
vl AS (
  SELECT *, unnest(list_filter(after[1:e-1], l -> regexp_matches(l, '{_T8_VENDOR}'))) AS v
  FROM sect2
)
SELECT 'nc_item_c' AS doc_type, path AS file, block_id, contract_id, project_number,
  type_of_work, location, estimate, date_available, final_completion, estimate_total,
  regexp_extract(v, '{_T8_VENDOR}', 1) AS vendor_name,
  regexp_extract(v, '{_T8_VENDOR}', 2) AS vendor_city,
  {_t8_vt} AS vendor_total,
  {_t8_pd} AS pct_diff
FROM vl
ORDER BY block_id, vendor_name"""


# ---------------------------------------------------------------------------
# T11 oracle: union of every branch oracle BY NAME
# ---------------------------------------------------------------------------
def _strip_order(sql: str) -> str:
    return sql.rsplit("\nORDER BY", 1)[0]


def _branch(sql: str, extra: str = "") -> str:
    return f"SELECT *{extra} FROM (\n{_strip_order(sql)}\n)"


_T11_ORACLE = (
    "\nUNION ALL BY NAME\n".join(
        [
            _branch(_INVOICE_ORACLE, ", 'invoice' AS doc_type"),
            _branch(_RECEIPT_ORACLE, ", 'receipt' AS doc_type"),
            _branch(_AWARD_ORACLE),
            _branch(_INVITATION_ORACLE),
            _branch(_BIDS_ORACLE),
            _branch(_T7_ORACLE),
            _branch(_T8_ORACLE),
        ]
    )
    + "\nORDER BY doc_type, file"
)

# upgrade the rows-only registrations to full oracles
from pdf_etl_pipeline_spark.catalog import REGISTRY  # noqa: E402

REGISTRY["t7_bid_tabs"].oracle = _T7_ORACLE
REGISTRY["t7_bid_tabs"].doc = "T7 bid tabs: items × bidders positional join (full DuckDB oracle)"
REGISTRY["t8_item_c"].oracle = _T8_ORACLE
REGISTRY["t8_item_c"].doc = "T8 item C: sentinel-block segmentation × vendor rows (full DuckDB oracle)"
REGISTRY["t11_dispatch_union"].oracle = _T11_ORACLE
REGISTRY["t11_dispatch_union"].doc = (
    "T11/T12/U1: detect → one CASE over per-type row arrays → inline into RECORD_SCHEMA;"
    " oracle unions every branch oracle BY NAME"
)


def _t11_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    corpus = FX.INVOICE_DOCS + [FX.RECEIPT_LINES, FX.RECEIPT_LINES_2] + FX.ALL_NC_DOCS
    # drop the plain receipt doc from ALL_NC list duplication guard: corpus
    # must match the oracle's fixture set exactly
    out = parse_documents_by_type(FX.corpus_df(spark, corpus), processed_date=_PROCESSED)
    return out.orderBy("doc_type", "file")


REGISTRY["t11_dispatch_union"].fn = _t11_fixed
