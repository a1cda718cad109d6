"""End-to-end extraction plan — the Spark shape of
``run_extraction_pipeline`` (reference lib/pipeline_runner.py:45-178;
lifecycle documented in SURVEY.md §3.1).

    corpus scan (S1) → text extraction (S2/S3/S4 UDFs | fixture lines)
      → doc-type classification (T12/P5) → per-type parser branches
      (T1–T9) → unionByName (U1) → dedup-insert sink (J1/S7)

The whole thing is ONE lazy logical plan: Catalyst prunes the binary
content column for doc types that don't need it, pushes the extension
filter into the file listing, and fans the per-file parser work across
executors. Nothing here loops on the driver.

A sink run materializes the extracted ``(path, lines)`` rows once and
releases them when it returns: the parser fans them into 7 doc-type
branches and the sink runs two actions (count, append), and uncached each
branch of each action would re-scan and re-extract every PDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdf_etl_pipeline_spark.operators.dedup_sink import insert_dataframe
from pdf_etl_pipeline_spark.parsers.nc import parse_documents_by_type
from pdf_etl_pipeline_spark.session import materialized
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
    re-runs the scan and the extraction once per parser branch, so a caller
    that runs several actions should hold them in ``session.materialized``."""
    docs = extract_text_lines(scan_corpus(spark, root, glob=glob))
    if sink_path is None:
        return run_on_lines(docs)
    with materialized(docs):
        return run_on_lines(docs, sink_path)


def run_on_lines(docs: DataFrame, sink_path: str | None = None) -> DataFrame | int:
    """Same plan entered after extraction (pre-extracted ``(path, lines)``
    rows — the fixture/testing entry point)."""
    records = parse_documents_by_type(docs)
    if sink_path is None:
        return records
    return insert_dataframe(records, sink_path)
