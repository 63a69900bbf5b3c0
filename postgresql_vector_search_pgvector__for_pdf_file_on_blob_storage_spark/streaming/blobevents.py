"""Blob-EVENT-driven ingest — the reference's upload trigger consumed as a
stream of storage notifications rather than a directory listing (r10;
closes SURVEY §7.4 item 1 as far as a sandbox can).

Reference semantics: ``BlobUploadDetector`` registers a per-blob trigger
(``@BlobTrigger(path = "pdfs/{name}")``, Function.java:71-79) — Azure
delivers one EVENT per uploaded blob and the function fetches that blob's
bytes (``blobClient.downloadContent()``) and runs the pipeline.  The
file-stream form (streaming/ingest.py) models the *effect* (each new file
processed exactly once) but not the *mechanism*: a real cloud deployment
receives notifications (Event Grid / S3 event / Pub/Sub), and the blob
store is NOT listable from the pipeline — the event payload is the only
pointer.

This module is the mechanism: a Structured Streaming job over the event
feed itself.

- **Source**: ``readStream.json(events_dir)`` with the Event-Grid
  BlobCreated payload subset as an explicit schema (``eventType``,
  ``subject``, ``data.url``, ``eventTime``) — the cloud-portable
  notification shape; in production this reader points at the
  Event-Grid-to-storage capture path (or a Kafka topic of the same
  payloads) with zero code change.
- **Trigger semantics**: the checkpointed file source gives exactly-once
  processing of each event FILE; duplicate BlobCreated deliveries — the
  normal Event Grid at-least-once behavior, arriving as distinct event
  rows — are deduplicated on blob NAME, both within a batch
  (``dropDuplicates``) and across batches (anti-join against the
  ingested-names log this stream maintains beside the status dir), so a
  redelivered notification never re-ingests a blob.  The parquet appends
  themselves are non-transactional: a crash BETWEEN the chunk write and
  the names-log write replays the epoch and can double-append that
  epoch's chunks (at-least-once on failure recovery, exactly-once in
  steady state — the same contract as the reference's trigger, stated
  honestly; ADVICE r10).
- **Fetch**: blob bytes are read ON EXECUTORS inside ``mapInPandas``
  (one Python crossing per Arrow batch of events), from
  ``blobs_root/<name>`` — the sandbox stand-in for
  ``blobClient.downloadContent()``; a real deployment swaps the
  ``open()`` for the storage SDK call in ``_fetch_blobs``, nothing else
  moves.  A missing/unreadable blob is logged-and-skipped (the
  reference's per-invocation failure isolation), surfaced in the status
  log as ``FAILED_BLOB_FETCH`` rather than silently dropped.
- **Filters**: only ``Microsoft.Storage.BlobCreated`` events for
  ``.pdf`` subjects proceed (Function.java:83's suffix gate, applied to
  the SUBJECT before any fetch — a non-PDF upload costs nothing).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline as P
from ..functions import embed as E
from ..functions import text as X
from .ingest import write_ingest
from .stores import read_store

BLOB_CREATED = "Microsoft.Storage.BlobCreated"

# Event Grid BlobCreated payload subset (explicit schema — streaming JSON
# sources must not infer, and extra vendor fields are simply ignored).
EVENT_SCHEMA = (
    "eventType string, subject string, eventTime string, "
    "data struct<url: string, contentLength: long>"
)

FETCHED_SCHEMA = "path string, content binary, fetch_error string"


def blob_name_from_subject(col):
    """``/blobServices/default/containers/pdf/blobs/<name>`` -> ``<name>``
    (the Event Grid subject convention; the reference's ``{name}``
    binding)."""
    return F.regexp_extract(col, r"/blobs/(.+)$", 1)


def _fetch_blobs(blobs_root: str):
    """mapInPandas kernel: ``(path)`` event rows -> ``(path, content,
    fetch_error)``.  THE storage-SDK seam — swap the ``open()`` for
    ``blobClient.downloadContent()`` and nothing else in the pipeline
    changes.  Errors are captured per blob, never thrown (one bad event
    must not fail the batch — the reference isolates failures per
    invocation)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        for pdf in batches:
            out: dict[str, list] = {
                "path": [], "content": [], "fetch_error": []
            }
            for name in pdf["path"]:
                full = os.path.join(blobs_root, name)
                try:
                    with open(full, "rb") as fh:
                        content = fh.read()
                    err = None
                except OSError as exc:
                    content, err = None, str(exc)
                out["path"].append(name)
                out["content"].append(content)
                out["fetch_error"].append(err)
            yield pd.DataFrame(out)

    return gen


def blob_event_stream(
    spark: SparkSession,
    events_dir: str,
    blobs_root: str,
    chunks_out: str,
    status_out: str,
    checkpoint: str,
    max_len: int = X.MAX_SEPARATE_TOKEN_LENGTH,
    dim: int = E.DEFAULT_DIM,
    max_files_per_trigger: int | None = None,
):
    """Start (and return) the event-driven ingest query: Event-Grid-shaped
    BlobCreated notifications in ``events_dir`` -> executor-side blob
    fetch from ``blobs_root`` -> the SAME extract/chunk/embed/status
    pipeline as ingest_stream, appended to ``chunks_out``/``status_out``.
    AvailableNow drains the pending events and stops (call
    ``.awaitTermination()``); failed fetches land in the status log as
    ``FAILED_BLOB_FETCH`` rows keyed by blob name."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    events = reader.json(events_dir)

    ingested_log = status_out.rstrip("/") + "_ingested"

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        wanted = (
            batch_df.filter(F.col("eventType") == F.lit(BLOB_CREATED))
            .select(blob_name_from_subject(F.col("subject")).alias("path"))
            .filter(F.col("path").endswith(".pdf"))  # Function.java:83
            # Event Grid is at-least-once: duplicate deliveries of the
            # same BlobCreated arrive as distinct rows.  Dedupe on blob
            # name within the batch, then against every name already
            # ingested by a prior batch (the log is one tiny row per
            # blob — a broadcast anti-join, never a scan of chunks_out).
            .dropDuplicates(["path"])
        )
        seen = read_store(batch_df.sparkSession, ingested_log)
        if seen is not None:
            wanted = wanted.join(
                F.broadcast(seen), "path", "left_anti"
            )
        fetched = wanted.mapInPandas(
            _fetch_blobs(blobs_root), FETCHED_SCHEMA
        ).localCheckpoint(eager=True)  # fetch once; feeds two outputs
        failed = fetched.filter(F.col("fetch_error").isNotNull())
        ok = fetched.filter(F.col("fetch_error").isNull()).select(
            "path", "content"
        )
        fetch_status = failed.select(
            F.col("path").alias("id"),
            F.col("path").alias("fileName"),
            F.lit(None).cast("int").alias("pageNumber"),
            F.lit("FAILED_BLOB_FETCH").alias("status"),
            F.col("fetch_error").alias("detail"),
        )
        # Parse + chunk + embed in one mapInPandas, persisted for both
        # writes (streaming.ingest.write_ingest).
        embedded = P.embed_files(ok, max_len, dim)
        write_ingest(embedded, chunks_out, status_out, dim)
        if not failed.isEmpty():
            fetch_status.write.mode("append").parquet(
                status_out.rstrip("/") + "_fetch_failures"
            )
        # Ingested-names log LAST: a crash before this point replays the
        # epoch (at-least-once on recovery); once it lands, any future
        # redelivery of these names anti-joins away.  Failed fetches are
        # NOT logged as ingested — a redelivered event for a blob whose
        # first fetch failed gets retried, matching the reference's
        # per-invocation retry behavior.
        if not ok.isEmpty():
            ok.select("path").write.mode("append").parquet(ingested_log)

    return (
        events.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def make_blob_created_event(
    container: str, name: str, account: str = "testacct"
) -> dict:
    """Build one Event-Grid-shaped BlobCreated notification (tests/demos
    — the payload fields EVENT_SCHEMA reads, in the documented shapes)."""
    return {
        "eventType": BLOB_CREATED,
        "subject": (
            f"/blobServices/default/containers/{container}/blobs/{name}"
        ),
        "eventTime": "2026-01-01T00:00:00Z",
        "data": {
            "url": (
                f"https://{account}.blob.core.windows.net/{container}/{name}"
            ),
            "contentLength": 0,
        },
    }
