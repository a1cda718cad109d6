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

from pdf_etl_pipeline_spark.functions.scalars import let_col
from pdf_etl_pipeline_spark.session import session_memo


def plan_columns(docs: DataFrame, build, *args):
    """``build(*args)`` — a parser's unresolved Columns — built once per
    Spark application and argument tuple. Unresolved Columns are bound to no
    DataFrame, so one build serves every batch's ``docs``; building them
    costs thousands of py4j calls, applying them a few dozen."""
    return session_memo(docs.sparkSession, (build, *args), lambda: build(*args))


def record(**cols: Column) -> Column:
    """One parser output row: a struct of ``cols`` in keyword order."""
    return F.struct(*[c.alias(n) for n, c in cols.items()])


def parse_rows(docs: DataFrame, build, *args) -> DataFrame:
    """``docs`` → one output row per element of the parser's row array
    ``build(*args, record)``."""
    return docs.select(F.inline(plan_columns(docs, build, *args, record)))


def bind(cols: dict[str, Column], body) -> Column:
    """``body`` over ``cols`` evaluated once per row (``scalars.let_col``):
    a lambda re-evaluates its free expressions per array element, so a
    document header used by every output row is bound first. ``body`` gets
    a dict of the same names, each reading the bound value."""
    return let_col(record(**cols), lambda h: body(fields(h, *cols)))


def fields(struct: Column, *names: str) -> dict[str, Column]:
    """``{name: struct[name]}`` for each of ``names``, in order."""
    return {n: struct[n] for n in names}


def outer(rows: Column) -> Column:
    """``rows``, or one null element when it is empty or null: the elements
    ``posexplode_outer`` yields, so a parser keeps its all-null row."""
    # the null element is read from ``rows`` itself, so both branches have
    # one type and the analyzer needs no coercion pass
    return F.when(F.size(rows) > 0, rows).otherwise(F.array(F.try_element_at(rows, F.lit(1))))


def first_matching_line(lines: Column, pattern: str) -> Column:
    """First line matching the Java-regex ``pattern`` (null if none) —
    the reference's ``for line in lines: if re.search(...)`` + break."""
    return F.try_element_at(F.filter(lines, lambda l: l.rlike(pattern)), F.lit(1))


def first_extract(lines: Column, pattern: str, group: int = 1) -> Column:
    """Extract ``group`` from the first line matching ``pattern``; null if
    no line matches (first-match-wins cascade member). ``group`` must match
    at least one character: the first of all matches is taken rather than
    ``nullif`` of one, which would repeat the line scan inside a CASE
    branch."""
    return F.try_element_at(
        F.regexp_extract_all(first_matching_line(lines, pattern), F.lit(pattern), group), F.lit(1)
    )


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
    # one fold over the lines finds both 1-based marker positions; the end
    # marker is searched for only after the start marker
    def step(acc: Column, line: Column) -> Column:
        i, start, end = acc["i"] + 1, acc["start"], acc["end"]
        return record(
            i=i,
            start=F.when((start == 0) & line.rlike(start_pattern), i).otherwise(start),
            end=F.when((start > 0) & (end == 0) & line.rlike(end_pattern), i).otherwise(end),
        )

    def cut(acc: Column) -> Column:
        n = F.when(acc["end"] > 0, acc["end"] - acc["start"] - 1).otherwise(0)
        return F.slice(lines, acc["start"] + 1, n)

    return F.aggregate(lines, record(i=F.lit(0), start=F.lit(0), end=F.lit(0)), step, cut)
