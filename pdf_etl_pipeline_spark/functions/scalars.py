"""Scalar function layer — SURVEY.md §2.7 (F1–F17) as native Column
expressions.

Every function here compiles to JVM-side Catalyst expressions (whole-stage
codegen, no Python in the hot path). Reference citations point at
``/root/reference`` for semantic parity; implementations are Spark-first.

ANSI note: Spark 4 runs with ``spark.sql.ansi.enabled=true`` — plain casts
throw on malformed input, so every "null on failure" semantic from the
reference uses ``try_cast`` / ``try_to_timestamp``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _try_cast(c: Column, dtype: str) -> Column:
    """ANSI-safe cast: null on failure (Column.try_cast)."""
    return c.try_cast(dtype)


# ---------------------------------------------------------------------------
# F1 — parse_float (reference: lib/parse_utils.py:27-35)
# ---------------------------------------------------------------------------
def parse_float(c: Column | str) -> Column:
    """Strip ``,`` and ``$`` then cast to double; null on failure (an empty
    string fails the cast too)."""
    return _try_cast(F.regexp_replace(F.trim(_col(c)), r"[,$]", ""), "double")


# F1b — clean_currency over many columns (reference: lib/parse_utils.py:38-43)
def clean_currency(df, cols: list[str]):
    """Apply :func:`parse_float` to each named column (projection rewrite)."""
    return df.withColumns({name: parse_float(name) for name in cols if name in df.columns})


# ---------------------------------------------------------------------------
# F2 — parse_date: 5-format cascade (reference: lib/parse_utils.py:46-55)
# ---------------------------------------------------------------------------
_DATE_FORMATS = ["MMM d, yyyy", "MMMM d, yyyy", "yyyy-M-d", "d-M-yyyy", "M/d/yyyy"]


def parse_date(c: Column | str, extra_formats: tuple[str, ...] = ()) -> Column:
    """First-match-wins date parse over the reference's 5 formats, then
    ``extra_formats`` → DateType. ``c`` is bound once (``let_col``): the
    formats would otherwise repeat it, and inside a CASE branch or a lambda
    body Spark evaluates each copy."""
    formats = [*_DATE_FORMATS, *extra_formats]
    return let_col(
        F.trim(_col(c)),
        lambda s: F.coalesce(*[F.try_to_timestamp(s, F.lit(fmt)).cast("date") for fmt in formats]),
    )


# ---------------------------------------------------------------------------
# F3 — OCR digit-confusion repair + in-text date mining
# (reference: lib/parse_utils.py:59-100 — DATE_REGEX, _coerce_year,
#  _find_invoice_date: earliest valid date wins)
# ---------------------------------------------------------------------------
def coerce_ocr_digits(c: Column | str) -> Column:
    """Repair OCR digit confusions BETWEEN digits: O/o→0, S/s→5, l/I→1.

    Exact reference semantics (lib/parse_utils.py:82-85): both-side digit
    adjacency only (``(?<=\\d)[Oo](?=\\d)`` etc.), lowercase variants
    included, and no other mappings. Java regex supports the lookarounds
    directly; the DuckDB oracle emulates them with a two-pass consuming
    replace (RE2 has no lookbehind).
    """
    out = _col(c)
    for bad, good in [("Oo", "0"), ("Ss", "5"), ("lI", "1")]:
        out = F.regexp_replace(out, f"(?<=\\d)[{bad}](?=\\d)", good)
    return out


# Reference DATE_REGEX (lib/parse_utils.py:59-66): digit-boundary guards on
# both sides, separators -, /, . or whitespace.
_DATE_IN_TEXT = r"(?<!\d)(\d{1,2})[-/.\s](\d{1,2})[-/.\s](\d{2,4})(?!\d)"


def coerce_year(y: Column) -> Column:
    """Reference ``_coerce_year``: 2-digit year → 2000s when ≤ 30, else
    1900s (99 → 1995-style); 3+-digit years pass through unchanged."""
    n = y.try_cast("int")
    return F.when(
        F.length(y) == 2,
        F.when(n <= 30, n + 2000).otherwise(n + 1900).cast("string"),
    ).otherwise(y)


def find_dates_in_lines(lines: Column | str) -> Column:
    """array<string> lines → earliest valid d/m/y date found anywhere (F3/A7).

    Mirrors ``_find_invoice_date``: scan every line, repair OCR digits,
    extract all digit-bounded ``d[-/.\\s]m[-/.\\s]y(y)`` matches, coerce
    2-digit years (≤30 → 2000s, else 1900s), validate via try-parse, return
    the minimum.
    """
    lines = _col(lines)

    def dates(m: Column) -> Column:
        d, mo, y = (F.regexp_extract(m, _DATE_IN_TEXT, g) for g in (1, 2, 3))
        return F.try_to_timestamp(F.concat_ws("-", d, mo, coerce_year(y)), F.lit("d-M-yyyy")).cast("date")

    # every match in every repaired line; array_min skips the null (invalid)
    # dates
    return F.array_min(
        F.flatten(
            F.transform(
                lines,
                lambda l: F.transform(
                    F.regexp_extract_all(coerce_ocr_digits(l), F.lit(_DATE_IN_TEXT), 0), dates
                ),
            )
        )
    )


# ---------------------------------------------------------------------------
# F4 — extract_tax_rate: "GST 8%" → 8.0 (reference: lib/parse_utils.py:103-108)
# ---------------------------------------------------------------------------
def extract_tax_rate(c: Column | str) -> Column:
    raw = F.regexp_extract(normalize_percent_signs(c), r"(\d+\.?\d*)\s*%", 1)
    return _try_cast(F.nullif(raw, F.lit("")), "double")


# ---------------------------------------------------------------------------
# F5 — fix_null_total (reference: lib/parse_utils.py:110-116)
# ---------------------------------------------------------------------------
def fix_null_total(total: Column | str, subtotal: Column | str, tax: Column | str) -> Column:
    """total_amount = coalesce(total, coalesce(subtotal,0)+coalesce(tax,0))."""
    return F.coalesce(
        _col(total),
        F.coalesce(_col(subtotal), F.lit(0.0)) + F.coalesce(_col(tax), F.lit(0.0)),
    )


# ---------------------------------------------------------------------------
# F6 — _norm_num (reference: lib/parse_utils.py:346-359)
# ---------------------------------------------------------------------------
def norm_num(c: Column | str) -> Column:
    """Trim/despace, ``,``→``.``, float cast; ints > 10000 are cents (÷100)."""
    cleaned = F.translate(F.regexp_replace(_col(c), r"\s+", ""), ",", ".")
    v = _try_cast(F.nullif(cleaned, F.lit("")), "double")
    is_big_int = (v == F.floor(v)) & (v > 10000)
    return F.when(is_big_int, v / 100.0).otherwise(v)


# ---------------------------------------------------------------------------
# F7 / F8 — token-class predicates (reference: lib/parse_utils.py:1291-1295)
# ---------------------------------------------------------------------------
def is_money_token(c: Column | str) -> Column:
    return _col(c).rlike(r"^\$?[\d,]+\.\d{2}$")


def is_numeric_token(c: Column | str) -> Column:
    return F.regexp_replace(_col(c), ",", "").rlike(r"^\d+(\.\d+)?$")


# ---------------------------------------------------------------------------
# F10/F11/F12 — normalization helpers
# ---------------------------------------------------------------------------
def collapse_whitespace(c: Column | str) -> Column:
    """F11 (reference: lib/parse_utils.py:398,1226)."""
    return F.trim(F.regexp_replace(_col(c), r"\s+", " "))


def normalize_percent_signs(c: Column | str) -> Column:
    """F12: ％/°/‰ → % (reference: lib/parse_utils.py:237)."""
    return F.translate(_col(c), "％°‰", "%%%")


def normalize_ocr_chars(c: Column | str) -> Column:
    """P7: strip chars outside ``[A-Za-z0-9 :/().,&-]`` (lib/parse_utils.py:362-364)."""
    return F.regexp_replace(_col(c), r"[^A-Za-z0-9 :/().,&-]", "")


# ---------------------------------------------------------------------------
# F14 — path manipulation (reference: lib/pipeline_runner.py:53)
# ---------------------------------------------------------------------------
def path_ext(c: Column | str) -> Column:
    return F.lower(F.regexp_extract(_col(c), r"\.([A-Za-z0-9]+)$", 1))


def path_stem(c: Column | str) -> Column:
    return F.regexp_extract(_col(c), r"([^/\\]+?)(\.[A-Za-z0-9]+)?$", 1)


# ---------------------------------------------------------------------------
# F16 — qty inference (reference: lib/parse_utils.py:432-449)
# ---------------------------------------------------------------------------
def infer_qty(qty: Column | str, price: Column | str, total: Column | str) -> Column:
    """If qty missing or price*qty≠total (±0.02), infer qty=round(total/price)
    when that ratio is near-integer and in [0.5, 999]."""
    qty, price, total = _col(qty), _col(price), _col(total)
    ratio = F.try_divide(total, price)
    near_int = F.abs(ratio - F.round(ratio)) < 0.02
    plausible = ratio.isNotNull() & near_int & (ratio >= 0.5) & (ratio <= 999)
    inconsistent = qty.isNull() | (F.abs(qty * price - total) > 0.02)
    return F.when(inconsistent & plausible, F.round(ratio)).otherwise(qty)


# ---------------------------------------------------------------------------
# F17 — date display label (reference: analytics.sql:96)
# ---------------------------------------------------------------------------
def month_label(c: Column | str) -> Column:
    return F.date_format(_col(c), "MMM yyyy")


# ---------------------------------------------------------------------------
# P9 — column-name standardization (reference: lib/parse_utils.py:119-122)
# ---------------------------------------------------------------------------
def standardize_columns(df):
    return df.toDF(*[c.strip().lower() for c in df.columns])


# ---------------------------------------------------------------------------
# Native per-row let-binding (r16 optimization) — evaluate an expression
# ONCE and feed the bound value to a body of dependent expressions:
# transform(array(v), x -> body(x))[0]. Catalyst assigns every lambda its
# own variable ids, so common-subexpression elimination treats semantically
# identical lambda-bearing subtrees (tokenizers, score structs) as
# distinct; without the binding each reference re-evaluates the whole
# subtree (the pre-r16 lang_id re-split the text ~35x per row). A lambda
# variable, by contrast, is evaluated once per element, and the
# single-element array wrapper makes the whole subtree that element.
# ---------------------------------------------------------------------------
def let_col(value: Column, body) -> Column:
    """Bind ``value`` once per row; ``body`` receives the bound Column.
    ``element_at`` rather than ``getItem``: the analyzer resolves a function
    in the same pass as its argument, a field/item access one pass later."""
    return F.element_at(F.transform(F.array(value), body), 1)


# ---------------------------------------------------------------------------
# Portable 32-bit hash — used by MinHash / fingerprinting so the DuckDB
# oracle can reproduce the exact arithmetic (md5 is identical everywhere;
# fold the first 8 hex chars to an int).
# ---------------------------------------------------------------------------
def portable_hash32(c: Column | str) -> Column:
    """Deterministic engine-portable hash: first 32 bits of md5 as a long."""
    return F.conv(F.substring(F.md5(_col(c).cast("string")), 1, 8), 16, 10).cast("long")


def portable_hash32_sql(expr: str) -> str:
    """DuckDB SQL producing the identical value as :func:`portable_hash32`."""
    return (
        "list_reduce(list_transform(regexp_split_to_array(substring(md5(CAST("
        + expr
        + " AS VARCHAR)),1,8),''), c -> CAST(strpos('0123456789abcdef', c) AS BIGINT) - 1), (a,b) -> a*16+b)"
    )


# ---------------------------------------------------------------------------
# Cross-engine-deterministic money aggregation.
#
# Double summation is order-dependent, and partition order differs between
# Spark and any oracle engine — so a money SUM is computed in DECIMAL
# (exact, associative) and cast back to double. Both engines see the same
# input doubles, cast them to the same decimals, and exact decimal addition
# makes the result independent of partition/summation order.
# ---------------------------------------------------------------------------
def dec_sum(c: Column | str, scale: int = 6) -> Column:
    """Order-independent SUM for double money columns (exact decimal path)."""
    return F.sum(_col(c).cast(f"decimal(27,{scale})")).cast("double")


def dec_sum_distinct(c: Column | str, scale: int = 6) -> Column:
    return F.sum_distinct(_col(c).cast(f"decimal(27,{scale})")).cast("double")


def dec_sum_sql(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(27,{scale}))) AS DOUBLE)"


def dec_sum_distinct_sql(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(DISTINCT CAST({expr} AS DECIMAL(27,{scale}))) AS DOUBLE)"
