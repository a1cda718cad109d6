"""End-to-end extraction plan — the Spark shape of
``run_extraction_pipeline`` (reference lib/pipeline_runner.py:45-178;
lifecycle documented in SURVEY.md §3.1).

    corpus scan (S1) → text extraction (S2/S3/S4 UDFs | fixture lines)
      → doc-type classification (T12/P5) → one CASE over the per-type
      parsers' row arrays (T1–T9) → inline into RECORD_SCHEMA (U1)
      → dedup-insert sink (J1/S7)

The whole thing is ONE lazy logical plan: Catalyst prunes the binary
content column for doc types that don't need it, pushes the extension
filter into the file listing, and fans the per-file parser work across
executors. Nothing here loops on the driver.

The parser reads the extracted ``(path, lines)`` rows in one pass, so a
sink run extracts each PDF once: the sink holds its anti-joined rows in
one ``materialized`` scope, and its count and append both read that cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdf_etl_pipeline_spark.operators.dedup_sink import insert_dataframe
from pdf_etl_pipeline_spark.parsers.nc import parse_documents_by_type
from pdf_etl_pipeline_spark.sources.files import scan_corpus
from pdf_etl_pipeline_spark.sources.pdf import extract_text_lines


def run_extraction_pipeline(
    spark: SparkSession,
    root: str,
    glob: str = "*",
    sink_path: str | None = None,
) -> DataFrame | int:
    """Extract every supported document under ``root`` into the canonical
    record union; append-dedup into ``sink_path`` when given (returns the
    inserted count), else return the records DataFrame.

    With ``sink_path=None`` the records stay lazy: every action on them
    re-runs the scan and the extraction, so a caller that runs several
    actions should hold them in ``session.materialized``."""
    return run_on_lines(extract_text_lines(scan_corpus(spark, root, glob=glob)), sink_path)


def run_on_lines(docs: DataFrame, sink_path: str | None = None) -> DataFrame | int:
    """Same plan entered after extraction (pre-extracted ``(path, lines)``
    rows — the fixture/testing entry point)."""
    records = parse_documents_by_type(docs)
    if sink_path is None:
        return records
    return insert_dataframe(records, sink_path)
