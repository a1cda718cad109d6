"""Array-of-lines primitives shared by all document parsers.

The reference's universal IR is a per-document ``list[str]`` of text lines
(SURVEY.md §1.1). Here a document is one row with ``lines:
array<string>``; these helpers express the reference's imperative scans
("first line matching X", "slice between markers") as native Catalyst array
expressions — JVM-side, no Python, fully codegen-able, and they scale to any
number of documents because they're per-row column expressions (no shuffle
at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.session import session_memo


def plan_columns(docs: DataFrame, build, *args):
    """``build(*args)`` — a parser's unresolved Column lists — built once
    per Spark application and argument tuple. Unresolved Columns are bound
    to no DataFrame, so one build serves every batch's ``docs``; building
    them costs thousands of py4j calls, applying them a few dozen."""
    return session_memo(docs.sparkSession, (build, *args), lambda: build(*args))


def first_matching_line(lines: Column, pattern: str) -> Column:
    """First line matching the Java-regex ``pattern`` (null if none) —
    the reference's ``for line in lines: if re.search(...)`` + break."""
    return F.try_element_at(F.filter(lines, lambda l: l.rlike(pattern)), F.lit(1))


def first_extract(lines: Column, pattern: str, group: int = 1) -> Column:
    """Extract ``group`` from the first line matching ``pattern``; null if
    no line matches (first-match-wins cascade member)."""
    hit = first_matching_line(lines, pattern)
    return F.nullif(F.regexp_extract(hit, pattern, group), F.lit(""))


def cascade(lines: Column, *patterns: str) -> Column:
    """First-match-wins over multiple patterns (reference's ``if not x:``
    regex cascades, e.g. invoice-number lookup lib/parse_utils.py:608-705)."""
    return F.coalesce(*[first_extract(lines, p) for p in patterns])


def index_of_first(lines: Column, pattern: str) -> Column:
    """1-based index of the first line matching ``pattern`` (0 if none)."""
    flags = F.transform(lines, lambda l: F.when(l.rlike(pattern), 1).otherwise(0))
    # array_position yields BIGINT; element_at/slice want INT
    return F.coalesce(F.array_position(flags, 1), F.lit(0)).cast("int")


def slice_between(lines: Column, start_pattern: str, end_pattern: str) -> Column:
    """Lines strictly between the first match of ``start_pattern`` and the
    next match of ``end_pattern`` — the reference's ``extract_table_section``
    (lib/parse_utils.py:299-308): header row and terminator excluded.
    Empty array when EITHER marker is absent (a truncated document yields no
    line items — reference returns [] unless both markers are found)."""
    start = index_of_first(lines, start_pattern)
    # search for the end marker only after the start marker
    after = F.slice(lines, start + 1, F.greatest(F.size(lines) - start, F.lit(0)))
    end_rel = index_of_first(after, end_pattern)
    length = F.when((start == 0) | (end_rel == 0), F.lit(0)).otherwise(end_rel - 1)
    return F.slice(after, 1, F.greatest(length, F.lit(0)))
