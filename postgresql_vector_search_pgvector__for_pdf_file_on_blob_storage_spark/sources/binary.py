"""Binary document source — the Spark analog of the reference's blob
container trigger (SURVEY.md §2A row 1).

Reference: ``@BlobTrigger(path = "pdfs/{name}") byte[] content``
(Function.java:71-79) delivers whole-file bytes per new object, filtered to
``.pdf`` (Function.java:83), then PDFBox extracts one text row per page
(Function.java:90-132).

Spark shape: ``binaryFile`` format gives ``(path, modificationTime, length,
content)`` with partition-parallel reads; the same source works batch
(``spark.read``) and incremental (``spark.readStream`` + checkpoint +
``Trigger.AvailableNow`` — see streaming.ingest).  Note Spark's binaryFile
cap: one file must fit in 2 GB (SURVEY.md §7.4 item 7).

PDF parsing: PDFBox is JVM-only, so pages come from one Python parser,
the bundled pure-stdlib ``sources/minipdf``.  No other parser is tried, so
a document gives the same pages whatever is installed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .minipdf import extract_text_pages

PAGES_SCHEMA = "fileName string, pageNumber int, text string"


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str = "*.pdf",
    stream: bool = False,
) -> DataFrame:
    """Batch or streaming scan of a directory of binary documents.

    ``pathGlobFilter`` mirrors the reference's blob-path scoping
    (``pdfs/{name}``); the ``.pdf`` suffix filter itself stays a separate
    explicit predicate (op row 7) so non-matching files are *visible* to the
    caller when they loosen the glob.
    """
    reader = spark.readStream if stream else spark.read
    return (
        reader.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def pdf_filter(df: DataFrame, col: str = "path") -> DataFrame:
    """``fileName.endsWith(".pdf")`` (Function.java:83) — non-PDFs are
    silently dropped, matching the reference."""
    return df.filter(F.col(col).endswith(".pdf"))


def _extract_pages_py(content: bytes) -> list[str]:
    """Whole-document -> per-page text through
    :func:`minipdf.extract_text_pages` (real ``%PDF-`` files: classic and
    1.5+ object-stream layouts, Flate/raw content streams, Type0/ToUnicode
    CMap text).  A missing, unknown or corrupt document yields no pages:
    per-document parse errors must never fail the job (the reference logs
    & skips unparseable pages, Function.java:121-125).
    """
    try:
        return extract_text_pages(content) or []
    except Exception:
        return []


def file_pages(files: pd.DataFrame) -> Iterator[tuple[str, int, str]]:
    """``(path, content)`` rows of one Arrow batch -> ``(fileName,
    pageNumber, text)`` per page, with 1-based page numbers
    (``IntStream.rangeClosed(1, ...)``, Function.java:100)."""
    for path, content in zip(files["path"], files["content"]):
        name = path.rsplit("/", 1)[-1]
        for i, page in enumerate(_extract_pages_py(content), start=1):
            yield name, i, page


def extract_pages(binary_df: DataFrame) -> DataFrame:
    """``(path, content)`` -> one row per page: ``(fileName, pageNumber,
    text)``.

    ``mapInPandas``: Arrow-batched, one Python crossing per batch of files;
    each task parses its own files so extraction scales with the file count.
    The ingest path does not call this: ``pipeline.embed_files`` runs
    :func:`file_pages` and the chunk/embed kernel in one ``mapInPandas``.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame.from_records(
                list(file_pages(pdf)), columns=["fileName", "pageNumber", "text"]
            )

    return binary_df.select("path", "content").mapInPandas(gen, PAGES_SCHEMA)
