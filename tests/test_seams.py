"""The three external-service seams, exercised for REAL as far as a
sandbox allows (r10 — VERDICT r9 "What's missing" items, SURVEY §7.4):

1. network embedding transport — actual HTTP POSTs from executors to a
   loopback vendor-API twin, retry/backoff driven by real 429/503;
2. HTTP/SSE serving — executors deliver to a real gateway over sockets,
   clients read ``text/event-stream`` frames;
3. blob-trigger connector — ingest driven by Event-Grid-shaped
   BlobCreated notifications, blob bytes fetched executor-side, with
   per-event failure isolation.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions import (
    embed as E,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.sources import (
    minipdf as MP,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
    load_table,
)


def test_http_embedder_over_real_socket(spark):
    """retrying_embedder + http_transport against the loopback vendor
    twin: success bit-equals the hash embedder, a 429-twice text retries
    to success on attempt 3, an always-503 text exhausts retries into
    the empty-embedding terminal path (Function.java:207-209) — all
    through real sockets from executor worker processes."""
    server, url = E.local_embedding_server(dim=16, fail_first=2)
    try:
        df = spark.createDataFrame(
            [
                ("plain text one",),
                ("rate limited <<TRANSIENT>> text",),
                ("broken <<FATAL>> text",),
                ("plain text two",),
            ],
            "text string",
        )
        emb = E.retrying_embedder(
            E.http_transport(url, dim=16), max_attempts=3, backoff_s=0.0
        )
        rows = {
            r["text"]: r["e"]
            for r in df.select("text", emb("text").alias("e")).collect()
        }
        for t in ("plain text one", "plain text two"):
            assert rows[t]["attempts"] == 1
            assert rows[t]["embedding"] == E.hash_embed_py(t, 16)
        tr = rows["rate limited <<TRANSIENT>> text"]
        assert tr["attempts"] == 3
        assert tr["embedding"] == E.hash_embed_py(
            "rate limited <<TRANSIENT>> text", 16
        )
        fa = rows["broken <<FATAL>> text"]
        assert fa["attempts"] == 3 and fa["embedding"] == []
    finally:
        server.shutdown()


def test_sse_http_gateway_end_to_end(spark, sf_dir, tmp_path):
    """The full serving loop over real HTTP: probe stream -> kNN ->
    sse_events -> executors POST /push to the gateway -> a client GET
    /events?user= reads each user's frames in relevance order,
    create -> createLink -> addMessage per hit, terminated by the done
    frame."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
        pipeline as P,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
        serve as SV,
    )

    server, url = SV.sse_http_server(drain_timeout_s=1.0)
    try:
        docs = load_table(spark, sf_dir, "documents")
        chunks, _ = P.ingest_documents(docs)
        probes_src = str(tmp_path / "probes_src")
        spark.createDataFrame(
            [
                ("alice", "spark vector search"),
                ("bob", "join shuffle"),
                # hostile user id: the SSE client must percent-encode it
                # or the GET queries the wrong key (ADVICE r10)
                ("eve & mallory?=x", "parquet scan"),
            ],
            "user_id string, query_text string",
        ).write.parquet(probes_src)
        probes_stream = spark.readStream.schema(
            "user_id string, query_text string"
        ).parquet(probes_src)
        q = SV.serve_push_stream(
            probes_stream,
            chunks,
            SV.http_push_sink_factory(url),
            checkpoint=str(tmp_path / "ckpt_sse"),
            k=3,
        )
        q.awaitTermination()
        for user in ("alice", "bob", "eve & mallory?=x"):
            payloads = SV.read_sse_events(url, user)
            assert len(payloads) == 9, user  # 3 hits x 3 event types
            types = [json.loads(p)["type"] for p in payloads]
            assert types == ["create", "createLink", "addMessage"] * 3, user
        # an unknown user drains to just the done frame
        assert SV.read_sse_events(url, "nobody") == []
    finally:
        server.shutdown()


def test_blob_event_stream_ingest_parity(spark, tmp_path):
    """Event-driven ingest == direct-scan ingest on the same blobs:
    BlobCreated events for two PDFs produce exactly the chunks the
    batch binary scan produces; a .txt event is gated by the suffix
    filter before any fetch; a BlobDeleted event is ignored; an event
    whose blob is missing lands in the fetch-failure log without
    failing the batch."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
        blobevents as BE,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
        ingest as IG,
    )

    blobs = tmp_path / "blobs"
    blobs.mkdir()
    (blobs / "a.pdf").write_bytes(
        MP.make_pdf(["alpha page one text", "alpha page two text"])
    )
    (blobs / "b.pdf").write_bytes(MP.make_pdf(["bravo single page"]))
    (blobs / "note.txt").write_bytes(b"not a pdf")

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    evs = [
        BE.make_blob_created_event("pdf", "a.pdf"),
        BE.make_blob_created_event("pdf", "b.pdf"),
        BE.make_blob_created_event("pdf", "note.txt"),  # suffix-gated
        BE.make_blob_created_event("pdf", "ghost.pdf"),  # missing blob
        dict(
            BE.make_blob_created_event("pdf", "c.pdf"),
            eventType="Microsoft.Storage.BlobDeleted",  # wrong type
        ),
    ]
    with open(events_dir / "batch1.json", "w") as fh:
        for e in evs:
            fh.write(json.dumps(e) + "\n")

    chunks_out = str(tmp_path / "chunks")
    status_out = str(tmp_path / "status")
    q = BE.blob_event_stream(
        spark,
        str(events_dir),
        str(blobs),
        chunks_out,
        status_out,
        str(tmp_path / "ckpt_be"),
    )
    q.awaitTermination()

    got = {
        (r["fileName"], r["pageNumber"], r["origntext"], r["id"])
        for r in spark.read.parquet(chunks_out).collect()
    }
    ref_chunks, _ = IG.ingest_batch(spark, str(blobs))
    want = {
        (
            os.path.basename(r["fileName"]),
            r["pageNumber"],
            r["origntext"],
            None,
        )
        for r in ref_chunks.collect()
    }
    # ids are content-derived surrogates; compare them only if the batch
    # path's fileName (a full path) matches the event path's bare name —
    # it does not, so compare on (name, page, text) and separately check
    # id determinism within the event output.
    got_names = {(f, p, t) for f, p, t, _ in got}
    want_names = {
        (f, p, t) for f, p, t, _ in want
    }
    assert got_names == want_names
    assert len({i for *_rest, i in got}) == len(got)  # ids distinct

    # the missing blob is isolated in the fetch-failure log
    fails = spark.read.parquet(status_out + "_fetch_failures").collect()
    assert [r["fileName"] for r in fails] == ["ghost.pdf"]
    assert fails[0]["status"] == "FAILED_BLOB_FETCH"
    # and nothing from note.txt / ghost.pdf / c.pdf reached the chunks
    assert {f for f, _, _ in got_names} == {"a.pdf", "b.pdf"}


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_blob_event_redelivery_not_reingested(spark, tmp_path, scheme):
    """A BlobCreated event redelivered in a later session (same
    checkpoint) anti-joins against the ingested-names log and appends no
    chunks — for a plain ``status_out`` and for a ``file://`` URI, whose
    log a local-filesystem existence check would not find."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
        blobevents as BE,
    )

    blobs = tmp_path / "blobs"
    blobs.mkdir()
    (blobs / "a.pdf").write_bytes(MP.make_pdf(["alpha one", "alpha two"]))
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    event = json.dumps(BE.make_blob_created_event("pdf", "a.pdf")) + "\n"
    chunks_out = scheme + str(tmp_path / "chunks")
    status_out = scheme + str(tmp_path / "status")

    def run_session(batch: str) -> int:
        (events_dir / batch).write_text(event)
        BE.blob_event_stream(
            spark,
            str(events_dir),
            str(blobs),
            chunks_out,
            status_out,
            scheme + str(tmp_path / "ckpt"),
        ).awaitTermination()
        return spark.read.parquet(chunks_out).count()

    first = run_session("batch1.json")
    assert first == 2
    assert run_session("batch2.json") == first

def test_sse_gateway_backpressure_drop_oldest_with_marker():
    """r12 (VERDICT r11 #6): with ``max_queue_events`` set, a stalled
    reader's queue is capped by drop-oldest, the retained events are the
    exact ordered SUFFIX, and the loss surfaces as an ``event: dropped``
    marker with the exact count — while a second user under the cap is
    untouched.  Pure loopback HTTP, no Spark."""
    import urllib.request

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
        serve as SV,
    )

    server, url = SV.sse_http_server(
        drain_timeout_s=0.5, max_queue_events=3
    )
    try:
        lines = [f'alice\t{i}\t{i}\t{{"n":{i}}}' for i in range(10)]
        lines += ['bob\t0\t0\t{"n":100}', 'bob\t0\t1\t{"n":101}']
        req = urllib.request.Request(
            f"{url}/push", data="\n".join(lines).encode(), method="POST"
        )
        urllib.request.urlopen(req, timeout=5.0).close()
        stats = server.queue_stats()
        assert stats["alice"] == {"depth": 3, "dropped": 7}
        assert stats["bob"] == {"depth": 2, "dropped": 0}
        a_payloads, a_dropped = SV.read_sse_events(
            url, "alice", timeout_s=10.0, with_markers=True
        )
        assert a_payloads == ['{"n":7}', '{"n":8}', '{"n":9}']
        assert a_dropped == 7
        b_payloads, b_dropped = SV.read_sse_events(
            url, "bob", timeout_s=10.0, with_markers=True
        )
        assert b_payloads == ['{"n":100}', '{"n":101}']
        assert b_dropped == 0
        # default plain-list return shape is unchanged for callers that
        # don't ask for markers (the r10/r11 gallery surface)
        assert SV.read_sse_events(url, "bob", timeout_s=2.0) == []
    finally:
        server.shutdown()
