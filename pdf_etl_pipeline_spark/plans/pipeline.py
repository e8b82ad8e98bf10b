"""End-to-end extraction plan — the Spark shape of
``run_extraction_pipeline`` (reference lib/pipeline_runner.py:45-178;
lifecycle documented in SURVEY.md §3.1).

    corpus scan (S1) → text extraction (S2/S3/S4 UDFs | fixture lines)
      → doc-type classification (T12/P5) → per-type parser branches
      (T1–T9) → unionByName (U1) → dedup-insert sink (J1/S7)

Without a sink the result is ONE lazy logical plan, returned uncached (a
cached handle would leave releasing the cache to the caller): Catalyst
prunes the binary content column for doc types that don't need it, pushes
the extension filter into the file listing, and fans the per-file parser
work across executors.

With a sink the batch runs each piece of work once, at two
materialization points:

1. the extracted ``(path, lines)`` frame is persisted and built by one
   action, so the seven parser branches read the cache instead of each
   re-running the ``mapInPandas`` extraction. That action runs on a
   background thread (same job group) while the driver builds the parse
   plan, which needs only the schema — the driver-side plan build and the
   executor-side extraction overlap;
2. ``insert_dataframe`` materializes the deduped batch once, counts it and
   writes it from the same rows (operators/dedup_sink.py).

Both caches are released before the call returns, on success or error.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

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
    inserted count), else return the lazy records DataFrame."""
    corpus = scan_corpus(spark, root, glob=glob)
    docs = extract_text_lines(corpus)
    if sink_path is None:
        return parse_documents_by_type(docs)
    docs = docs.persist()
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            # wrapped here so the thread inherits this thread's job group and tags
            extracted = pool.submit(inheritable_thread_target(spark)(docs.count))
            records = parse_documents_by_type(docs)
            extracted.result()
        return insert_dataframe(records, sink_path)
    finally:
        docs.unpersist()


def run_on_lines(docs: DataFrame, sink_path: str | None = None) -> DataFrame | int:
    """Same plan entered after extraction (pre-extracted ``(path, lines)``
    rows — the fixture/testing entry point)."""
    records = parse_documents_by_type(docs)
    if sink_path is None:
        return records
    return insert_dataframe(records, sink_path)
