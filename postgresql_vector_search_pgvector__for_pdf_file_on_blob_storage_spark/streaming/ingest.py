"""Incremental document ingest — the reference's blob-trigger pipeline as a
Structured Streaming job (SURVEY.md §3.1, §2A rows 1,30).

Reference semantics: every new blob under ``pdfs/`` fires one Function
invocation that extracts/chunks/embeds and writes rows + per-chunk status
(Function.java:71-176).  At-least-once, no watermark, no ordering.

Spark shape: ``readStream(binaryFile)`` with a checkpoint gives exactly-once
*file* processing (the file-source log replaces the blob trigger's
at-least-once with something strictly stronger); ``foreachBatch`` appends
both outputs — the vector table and the status event log — atomically
enough for an append-only design (re-run of a failed batch overwrites by
deterministic chunk id downstream via dedup-on-read if ever needed).
``Trigger.AvailableNow`` drains everything pending then stops — the batch
and the continuous deployment are the same code.

Each micro-batch crosses into Python once per task: one ``mapInPandas``
parses the PDFs and runs the chunk/embed kernel
(``pipeline.embed_files``).  The embedded rows are persisted, so the two
writes are two Spark jobs over one parse, not two re-runs of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import embed as E
from ..functions import text as X
from ..sources import binary as B
from .. import pipeline as P


def ingest_stream(
    spark: SparkSession,
    input_dir: str,
    chunks_out: str,
    status_out: str,
    checkpoint: str,
    glob: str = "*.pdf",
    max_len: int = X.MAX_SEPARATE_TOKEN_LENGTH,
    dim: int = E.DEFAULT_DIM,
    max_files_per_trigger: int | None = None,
):
    """Start (and return) the streaming ingest query.

    ``max_files_per_trigger`` bounds per-batch work — the knob replacing the
    reference's 20 ms inter-call pacing (Function.java:45,166-167): instead
    of sleeping per row, bound the batch and let the embedder's own batching
    amortize.  Call ``.awaitTermination()`` on the result (AvailableNow
    stops by itself when the backlog is drained).
    """
    # Streaming sources require an explicit schema; binaryFile's is fixed.
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        embedded = P.embed_files(B.pdf_filter(batch_df), max_len, dim)
        write_ingest(embedded, chunks_out, status_out, dim)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_ingest(
    embedded: DataFrame, chunks_out: str, status_out: str, dim: int
) -> None:
    """Append the vector table and the status event log derived from
    ``embedded`` (``pipeline.chunks_and_status``).  The rows are persisted
    for the two writes, so the parse and the kernel run once."""
    embedded = embedded.persist()
    try:
        chunks, status = P.chunks_and_status(embedded, dim)
        chunks.write.mode("append").parquet(chunks_out)
        status.write.mode("append").parquet(status_out)
    finally:
        embedded.unpersist()


def ingest_batch(
    spark: SparkSession,
    input_dir: str,
    glob: str = "*.pdf",
    max_len: int = X.MAX_SEPARATE_TOKEN_LENGTH,
    dim: int = E.DEFAULT_DIM,
) -> tuple[DataFrame, DataFrame]:
    """One-shot variant over the same source: returns (chunks, status)."""
    raw = B.read_binary_dir(spark, input_dir, glob)
    embedded = P.embed_files(B.pdf_filter(raw), max_len, dim)
    return P.chunks_and_status(embedded, dim)
