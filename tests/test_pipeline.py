"""End-to-end reference pipeline: ingest -> status log -> search -> SSE
projection (SURVEY.md §3.1-3.3), plus the driver entry smoke test."""

import pytest
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
    pipeline as P,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions import (
    embed as E,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
    load_table,
)


@pytest.fixture(scope="module")
def ingested(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(100)
    chunks, status = P.ingest_documents(docs, max_len=200)
    return chunks.cache(), status.cache()


def test_chunks_schema_and_invariants(ingested):
    chunks, _ = ingested
    assert chunks.columns == [
        "id",
        "embedding",
        "origntext",
        "fileName",
        "pageNumber",
    ]
    # pgvector dim invariant: every embedding has the declared dimension
    bad = chunks.filter(F.size("embedding") != E.DEFAULT_DIM).count()
    assert bad == 0
    # chunk size invariant: no chunk exceeds max_len
    assert chunks.filter(F.length("origntext") > 200).count() == 0
    # deterministic ids are unique
    assert chunks.select("id").distinct().count() == chunks.count()


def test_ingest_is_deterministic(spark, sf_dir, ingested):
    chunks, _ = ingested
    docs = load_table(spark, sf_dir, "documents").limit(100)
    again, _ = P.ingest_documents(docs, max_len=200)
    a = {(r["id"], tuple(r["embedding"])) for r in chunks.collect()}
    b = {(r["id"], tuple(r["embedding"])) for r in again.collect()}
    assert a == b


def test_status_event_log_happy_path(ingested):
    chunks, status = ingested
    # every chunk walks the 4-state happy path (Function.java:140-175)
    per_id = status.groupBy("id").agg(
        F.count("*").alias("n"), F.max("seq").alias("mx")
    )
    assert per_id.filter("n != 4 OR mx != 3").count() == 0
    cur = P.current_status(status)
    assert cur.filter(F.col("status") != "COMPLETED").count() == 0


def test_status_listings(ingested):
    _, status = ingested
    reg = P.status_registered(status)
    failed = P.status_failed(status)
    assert reg.count() > 0
    assert failed.count() == 0
    # composite sort: fileName ASC, pageNumber ASC (CosmosDBUtil.java:33)
    rows = reg.collect()
    keys = [(r["fileName"], r["pageNumber"]) for r in rows]
    assert keys == sorted(keys)


def test_search_returns_reference_projection(ingested):
    chunks, _ = ingested
    hits = P.search(chunks, "what does the fox say", k=5)
    assert hits.columns == ["id", "origntext", "fileName", "pageNumber", "dist"]
    rows = hits.collect()
    assert len(rows) == 5
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)


def test_search_is_deterministic(ingested):
    chunks, _ = ingested
    a = [r["id"] for r in P.search(chunks, "q1", k=5).collect()]
    b = [r["id"] for r in P.search(chunks, "q1", k=5).collect()]
    assert a == b


def test_summaries_run_once_per_hit_after_top_k(ingested):
    """The summarizer stays above the top-k: the plan keeps
    TakeOrderedAndProject and gains no range-partitioned sort."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.plans import (
        explain as EX,
    )

    chunks, _ = ingested
    summ = P.summaries(P.search(chunks, "fox", k=3), "q")
    assert EX.has_take_ordered(summ)
    plan = summ._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    assert len(summ.collect()) == 3


def test_sse_events_projection(ingested):
    chunks, _ = ingested
    hits = P.search(chunks, "query", k=3)
    ev = P.sse_events(hits, user_id="u1").collect()
    # 3 events per hit: create, createLink, addMessage
    assert len(ev) == 9
    by_doc = {}
    for r in ev:
        by_doc.setdefault(r["id"], []).append((r["seq"], r["event_json"]))
    for doc, events in by_doc.items():
        events.sort()
        assert '"type":"create"' in events[0][1]
        assert '"type":"createLink"' in events[1][1]
        assert "#page=" in events[1][1]
        assert '"type":"addMessage"' in events[2][1]
        assert "<SPECIAL_WHITE_SPACE>" in events[2][1]


def test_driver_entry_smoke(spark):
    import __spark_entry__ as entry

    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1


def test_oracle_keys_subset_of_queries(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


def test_sse_events_json_is_valid_with_hostile_text(spark):
    """Chunk text containing quotes/backslashes must still yield parseable
    JSON events (reference serializes with Gson, which escapes both —
    ADVICE r01)."""
    import json

    hits = spark.createDataFrame(
        [
            ("id-1", 'He said "hi" and C:\\path\\file', 'we"ird\\name.pdf', 3, 0.1),
        ],
        "id string, origntext string, fileName string, pageNumber int, dist double",
    )
    ev = P.sse_events(hits, user_id="u1").orderBy("seq").collect()
    assert len(ev) == 3
    for r in ev:
        parsed = json.loads(r["event_json"])  # raises on malformed JSON
        assert parsed["id"] == "id-1"
    msg = json.loads(ev[2]["event_json"])
    assert msg["content"] == 'He<SPECIAL_WHITE_SPACE>said<SPECIAL_WHITE_SPACE>"hi"<SPECIAL_WHITE_SPACE>and<SPECIAL_WHITE_SPACE>C:\\path\\file'
    link = json.loads(ev[1]["event_json"])
    assert link["fileName"] == 'we"ird\\name.pdf'


def test_retrying_embedder_end_to_end(spark):
    """Transient failures retry (emitting RETRY_OAI_INVOCATION per extra
    attempt) and end COMPLETED; terminal failures return an empty embedding,
    fail the dimension invariant, and land on FAILED_DB_INSERTION — the
    reference's invokeTextEmbedding loop (Function.java:48,181-210,262-269)
    mapped onto the status event log."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
        state as ST,
    )

    docs = spark.createDataFrame(
        [
            (1, "plain successful document text", "a.pdf"),
            (2, "flaky document <<TRANSIENT>> body", "b.pdf"),
            (3, "doomed document <<FATAL>> body", "c.pdf"),
        ],
        "doc_id long, text string, source string",
    )
    embedder = E.retrying_embedder(E.flaky_transport(), max_attempts=3)
    chunks, status = P.ingest_documents(docs, embedder=embedder)

    # Terminal failure never reaches the vector table.
    assert chunks.filter(F.col("pageNumber") == 3).count() == 0
    assert chunks.filter(F.col("pageNumber").isin(1, 2)).count() == 2

    seqs = {
        p: [r["status"] for r in rows]
        for p, rows in (
            (p, status.filter(F.col("pageNumber") == p).orderBy("seq").collect())
            for p in (1, 2, 3)
        )
    }
    assert seqs[1] == [
        "PAGE_SEPARATE_FINISHED", "FINISH_OAI_INVOCATION",
        "FINISH_DB_INSERTION", "COMPLETED",
    ]
    assert seqs[2] == [
        "PAGE_SEPARATE_FINISHED", "RETRY_OAI_INVOCATION",
        "RETRY_OAI_INVOCATION", "FINISH_OAI_INVOCATION",
        "FINISH_DB_INSERTION", "COMPLETED",
    ]
    assert seqs[3] == [
        "PAGE_SEPARATE_FINISHED", "RETRY_OAI_INVOCATION",
        "RETRY_OAI_INVOCATION", "FINISH_OAI_INVOCATION",
        "FAILED_DB_INSERTION",
    ]

    # Every emitted sequence is legal under the status state machine.
    tracked = ST.track_status_batch(status.select("id", "status", "seq"))
    assert tracked.filter(~F.col("valid")).count() == 0

    # The failed listing (reference Q5) surfaces exactly the doomed page.
    failed = P.status_failed(status).collect()
    assert [r["pageNumber"] for r in failed] == [3]
    assert [r["status"] for r in failed] == ["FAILED_DB_INSERTION"]


def test_retrying_embedder_paces_transport_calls(spark):
    """min_interval_s spaces transport invocations within a worker —
    the reference's OPENAI_INVOCATION_INTERVAL (Function.java:45,148)."""
    import time as _time

    def timed_transport(text, attempt):
        return [float(_time.monotonic())] * 4  # smuggle the call time out

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "i long, t string"
    ).coalesce(1)  # one worker so the pacing series is observable
    out = df.select(
        E.retrying_embedder(timed_transport, min_interval_s=0.05)(
            F.col("t")
        )["embedding"].alias("e")
    ).collect()
    times = sorted(r["e"][0] for r in out)
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert all(g >= 0.045 for g in gaps), gaps
