"""End-to-end pipelines mirroring the reference's three capabilities
(SURVEY.md §7.3):

- :func:`ingest_documents` — the BlobUploadDetector dataflow
  (Function.java:71-176): pages -> normalize -> chunk -> embed -> vector
  table, plus the append-only ingest-status event log that replaces the
  reference's in-place Cosmos state machine (SURVEY.md §2A row 30, §7.4).
  It is :func:`embed_documents` (embedded chunk rows) followed by
  :func:`chunks_and_status` (both outputs from those rows);
  :func:`embed_files` is the file-level twin that parses PDFs in the same
  Python pass.
- :func:`search` — the PDF-Summarizer query path
  (SSEOpenAIController.java:301-337): embed query -> exact L2 top-5.
- :func:`sse_events` — the serving projection: per-hit ``create`` /
  ``createLink`` / ``addMessage`` event rows with deterministic
  ``(doc id, seq)`` ordering (SSEOpenAIController.java:186-239).
- :func:`status_registered` / :func:`status_failed` — the listing queries
  Q4/Q5 (PDF-Summarizer/.../CosmosDBUtil.java:33-35).

Python work is one plain-Python kernel (:func:`page_chunks`) behind a
single ``mapInPandas`` per plan; chunk ids, the dimension check and the
status events stay native expressions.  Every write of an output is its
own Spark job, so a caller writing both outputs persists the embedded
rows between them (``streaming.ingest.write_ingest``).  No per-row
connections, no side-effect mutation; status is data.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .functions import embed as E
from .functions import text as X
from .functions import vector as V
from .operators import knn as K
from .sources import binary as B
from .utils import spread

# CosmosDBDocumentStatus enum names
# (BlobUploadDetector/.../models/CosmosDBDocumentStatus.java:5-10).
STATUS_VALUES = (
    "PAGE_SEPARATE_FINISHED",
    "RETRY_OAI_INVOCATION",
    "FINISH_OAI_INVOCATION",
    "FINISH_DB_INSERTION",
    "FAILED_DB_INSERTION",
    "COMPLETED",
)

# Happy-path progression (Function.java:140-175).  The reference's
# unconditional COMPLETED-after-failure quirk (Function.java:175) is a
# documented divergence we do NOT reproduce (SURVEY.md §2A row 30).
HAPPY_PATH = (
    "PAGE_SEPARATE_FINISHED",
    "FINISH_OAI_INVOCATION",
    "FINISH_DB_INSERTION",
    "COMPLETED",
)


def page_chunks(pages, max_len: int, dim: int | None):
    """The per-page ingest kernel, plain Python: normalize
    (Function.java:106-107) -> split (Function.java:214-251) -> embed.

    ``pages`` yields ``(fileName, pageNumber, text)``; the kernel yields
    ``(fileName, pageNumber, chunkIdx, origntext, embedding)``, or the
    first four only when ``dim`` is None (chunking without embedding).
    A null page yields no chunks.  Every step is the pinned pure-Python
    twin (``normalize_text_py``, ``split_text_py``, ``hash_embed_py``), so
    the rows equal the native-normalize + chunk-UDF + ``posexplode`` +
    embed-UDF composition this kernel replaces.
    """
    for name, page, text in pages:
        if text is None:
            continue
        chunks = X.split_text_py(X.normalize_text_py(text), max_len)
        for idx, chunk in enumerate(chunks):
            if dim is None:
                yield name, page, idx, chunk
            else:
                yield name, page, idx, chunk, E.hash_embed_py(chunk, dim)


_CHUNK_FIELDS = [
    T.StructField("fileName", T.StringType()),
    T.StructField("pageNumber", T.IntegerType()),
    T.StructField("chunkIdx", T.IntegerType(), nullable=False),
    T.StructField("origntext", T.StringType()),
]
_EMBEDDING_FIELD = T.StructField(
    "embedding", T.ArrayType(T.FloatType(), containsNull=False)
)


def _kernel_rows(df: DataFrame, pages_of, max_len: int, dim: int | None):
    """One ``mapInPandas`` over ``df``: ``pages_of(batch)`` yields each Arrow
    batch's pages, :func:`page_chunks` turns them into chunk rows, and the
    deterministic chunk id ``sha2(fileName|pageNumber|chunkIdx)`` is added
    as a native expression (SURVEY.md §7.4 item 5 — the reference's
    ``UUID.randomUUID()`` at Function.java:137 is deliberately replaced for
    testability).  ``pages_of`` is resolved here, on the driver, and
    shipped inside the kernel's closure."""
    fields = _CHUNK_FIELDS + ([] if dim is None else [_EMBEDDING_FIELD])
    names = [f.name for f in fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = list(page_chunks(pages_of(batch), max_len, dim))
            yield pd.DataFrame.from_records(rows, columns=names)

    rows = df.mapInPandas(gen, T.StructType(fields))
    chunk_id = F.sha2(
        F.concat_ws("|", "fileName", "pageNumber", "chunkIdx"), 256
    )
    return rows.select(chunk_id.alias("id"), *names)


def _page_triples(batch: pd.DataFrame):
    return zip(batch["fileName"], batch["pageNumber"], batch["text"])


def _page_rows(documents, text_col, file_col, page_col, max_len, dim):
    # Document sources often arrive as a handful of large files (one parquet
    # footer -> one partition).  The kernel is per-row Python work, so
    # spread rows across the cluster first; at real scale the source is
    # already many-filed and this is a no-op.
    pages = spread(documents).select(
        F.col(file_col).alias("fileName"),
        F.col(page_col).cast("int").alias("pageNumber"),
        F.col(text_col).alias("text"),
    )
    return _kernel_rows(pages, _page_triples, max_len, dim)


def chunk_documents(
    documents: DataFrame,
    text_col: str = "text",
    file_col: str = "source",
    page_col: str = "doc_id",
    max_len: int = X.MAX_SEPARATE_TOKEN_LENGTH,
) -> DataFrame:
    """pages -> normalized chunks with deterministic chunk ids:
    ``id, fileName, pageNumber, chunkIdx, origntext``.  The ingest kernel
    with embedding off, behind one ``mapInPandas``."""
    return _page_rows(documents, text_col, file_col, page_col, max_len, None)


def embed_documents(
    documents: DataFrame,
    text_col: str = "text",
    file_col: str = "source",
    page_col: str = "doc_id",
    max_len: int = X.MAX_SEPARATE_TOKEN_LENGTH,
    dim: int = E.DEFAULT_DIM,
    embedder=None,
) -> DataFrame:
    """pages -> embedded chunk rows: ``id, fileName, pageNumber, chunkIdx,
    origntext, embedding, attempts``.

    Default: one ``mapInPandas`` runs the whole kernel (normalize, split,
    hash-embed; one attempt each).  ``embedder`` swaps the embedding
    operator (the production seam — SURVEY.md §7.4 item 2): chunking stays
    in the kernel and the pandas UDF runs on its output, returning either
    ``array<float>`` or ``struct<embedding array<float>, attempts int>``
    (see ``functions.embed.retrying_embedder``).
    """
    kernel_dim = dim if embedder is None else None
    rows = _page_rows(
        documents, text_col, file_col, page_col, max_len, kernel_dim
    )
    if embedder is None:
        return rows.withColumn("attempts", F.lit(1))
    out = rows.withColumn("__er", embedder(F.col("origntext")))
    dtype = out.schema["__er"].dataType
    if hasattr(dtype, "fieldNames") and "attempts" in dtype.fieldNames():
        emb, attempts = F.col("__er.embedding"), F.col("__er.attempts")
    else:
        emb, attempts = F.col("__er"), F.lit(1)
    return out.select(
        *rows.columns, emb.alias("embedding"), attempts.alias("attempts")
    )


def embed_files(
    files: DataFrame,
    max_len: int = X.MAX_SEPARATE_TOKEN_LENGTH,
    dim: int = E.DEFAULT_DIM,
) -> DataFrame:
    """``(path, content)`` document files -> embedded chunk rows (the
    :func:`embed_documents` schema).  Parsing (``sources.binary``) and the
    ingest kernel share one ``mapInPandas``, so a file crosses into Python
    once, however many outputs are written from the rows."""
    rows = _kernel_rows(
        files.select("path", "content"), B.file_pages, max_len, dim
    )
    return rows.withColumn("attempts", F.lit(1))


def chunks_and_status(
    embedded: DataFrame, dim: int = E.DEFAULT_DIM
) -> tuple[DataFrame, DataFrame]:
    """Embedded chunk rows -> ``(chunks, status_events)``, all native
    expressions.

    ``chunks`` has the vector-table schema (README.md:155-158):
    ``id, embedding array<float>, origntext, fileName, pageNumber`` with the
    pgvector dimension invariant enforced (embedding must have ``dim``
    elements or the row is marked failed).  ``status_events`` is the
    append-only event log: ``(id, fileName, pageNumber, status, seq)`` —
    PAGE_SEPARATE_FINISHED, one RETRY_OAI_INVOCATION per extra embedding
    attempt (the reference's per-attempt status writes,
    Function.java:148-156,262-269), then the happy or failure tail
    (failure = dimension invariant violated at insert, e.g. the empty
    embedding a terminally-failed embedder returns).
    """
    ok = V.dim_check("embedding", dim)
    chunks = embedded.filter(ok).select(
        "id", "embedding", "origntext", "fileName", "pageNumber"
    )
    retries = F.array_repeat(
        F.lit("RETRY_OAI_INVOCATION"), F.col("attempts") - 1
    )
    head = F.array(F.lit("PAGE_SEPARATE_FINISHED"))
    tail_ok = F.array(*[F.lit(s) for s in HAPPY_PATH[1:]])
    tail_fail = F.array(
        F.lit("FINISH_OAI_INVOCATION"), F.lit("FAILED_DB_INSERTION")
    )
    statuses = F.concat(head, retries, F.when(ok, tail_ok).otherwise(tail_fail))
    status_events = embedded.select(
        "id",
        "fileName",
        "pageNumber",
        F.posexplode(statuses).alias("seq", "status"),
    ).select("id", "fileName", "pageNumber", "status", F.col("seq").cast("long"))
    return chunks, status_events


def ingest_documents(
    documents: DataFrame,
    text_col: str = "text",
    file_col: str = "source",
    page_col: str = "doc_id",
    max_len: int = X.MAX_SEPARATE_TOKEN_LENGTH,
    dim: int = E.DEFAULT_DIM,
    embedder=None,
) -> tuple[DataFrame, DataFrame]:
    """Full ingest: returns ``(chunks, status_events)`` —
    :func:`chunks_and_status` of :func:`embed_documents`.  Both outputs
    derive from the same embedded rows; a caller writing both should
    persist those rows (``streaming.ingest`` does) or each write re-runs
    the kernel."""
    embedded = embed_documents(
        documents, text_col, file_col, page_col, max_len, dim, embedder
    )
    return chunks_and_status(embedded, dim)


def current_status(status_events: DataFrame) -> DataFrame:
    """Latest status per chunk id — the view replacing Cosmos's in-place
    ``replaceItem`` mutation (BlobUploadDetector/.../CosmosDBUtil.java:62)."""
    w = Window.partitionBy("id").orderBy(F.col("seq").desc())
    return (
        status_events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "fileName", "pageNumber", "status")
    )


def status_registered(status_events: DataFrame) -> DataFrame:
    """Q4: ``WHERE status = 'COMPLETED' ORDER BY fileName, pageNumber``
    (PDF-Summarizer/.../CosmosDBUtil.java:33)."""
    return (
        current_status(status_events)
        .filter(F.col("status") == "COMPLETED")
        .orderBy(F.asc("fileName"), F.asc("pageNumber"))
    )


def status_failed(status_events: DataFrame) -> DataFrame:
    """Q5: ``WHERE status != 'COMPLETED' ORDER BY fileName, pageNumber``
    (PDF-Summarizer/.../CosmosDBUtil.java:35)."""
    return (
        current_status(status_events)
        .filter(F.col("status") != "COMPLETED")
        .orderBy(F.asc("fileName"), F.asc("pageNumber"))
    )


def search(
    chunks: DataFrame, query_text: str, k: int = 5, dim: int = E.DEFAULT_DIM
) -> DataFrame:
    """Embed the query text deterministically, then exact L2 top-k over the
    vector table, projecting the reference's four columns
    (SSEOpenAIController.java:315-316; MAX_RESULT=5 at :86)."""
    probe = E.hash_embed_py(query_text, dim)
    return K.knn(
        chunks, probe, k=k, metric="l2", vec_col="embedding", tie_cols=("id",)
    ).select("id", "origntext", "fileName", "pageNumber", "dist")


def deterministic_summarizer(max_sentences: int = 2):
    """The LLM-summarization seam (SURVEY.md §2A row 29/§3.2 step 5).

    The reference streams a GPT-4 chat completion per hit
    (SSEOpenAIController.java:151-184) with the prompt template at :90-94,
    273-278.  The engine keeps that as a pluggable enrichment UDF with the
    signature ``(origntext, question) -> summary``; this default is a
    deterministic extractive stand-in (first sentences) so pipelines and
    tests run hermetically — a production deployment swaps in a vendor-API
    pandas UDF with in-UDF retry/backoff, exactly like the embedder seam.
    """
    import re

    @F.pandas_udf("string")
    def _summarize(origntext, question):
        import pandas as pd

        out = []
        for text, q in zip(origntext, question):
            sents = [
                s.strip()
                for s in re.split(r"(?<=[.。!！?？;；])\s*", text or "")
                if s.strip()
            ]
            head = " ".join(sents[:max_sentences]) if sents else (text or "")
            out.append(f"[re: {q}] {head}")
        return pd.Series(out)

    return _summarize


def summaries(
    hits: DataFrame, question: str, summarizer=None
) -> DataFrame:
    """Per-hit summarization (the reference's fan-out loop,
    SSEOpenAIController.java:142-147): prompt templating + enrichment UDF.
    Returns hits + ``prompt`` + ``summary``; rows keep their (id) key so the
    interleaved-stream demux of the reference becomes plain keyed rows
    (SURVEY.md §7.4 item 6).

    The summarizer is marked nondeterministic (an LLM call is), which
    stops Catalyst pushing it below a top-k limit such as ``search``'s.
    Pushed down, it ran on up to k rows per partition instead of k, the
    top-k became a range-partitioned global sort, and the ``take`` over it
    left the UDF's Python worker half-read, so every request destroyed a
    worker and forked a new one."""
    udf = (summarizer or deterministic_summarizer()).asNondeterministic()
    prompt = F.format_string(
        '""" %s """ \n\nPlease answer the question using the above text: "%s"',
        F.col("origntext"),
        F.lit(question),
    )  # template shape: SSEOpenAIController.java:90-94,151-155
    return hits.withColumn("prompt", prompt).withColumn(
        "summary", udf(F.col("origntext"), F.lit(question))
    )


def json_escape(c) -> F.Column:
    """Minimal JSON string escaping for values embedded in hand-built event
    JSON: backslash and double quote — the reference serializes with Gson,
    which escapes both (SSEOpenAIController.java:189-192); without this a
    chunk containing a quote (common in PDF text) produces malformed JSON.
    Control characters are already gone (the normalizer turns newlines into
    spaces before chunking).  Literal ``replace``, mirrored byte-for-byte by
    the DuckDB oracle (queries/relational2.py sse_projection_sql)."""
    c = F.col(c) if isinstance(c, str) else c
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    return F.replace(c, F.lit('"'), F.lit('\\"'))


def sse_events(
    hits: DataFrame, user_id: str = "user-0", user_col: str | None = None
) -> DataFrame:
    """Serving projection: the three SSE record types the reference emits
    per hit (entities CreateAreaInHTML/CreateLinkInHTML/CreateMessageInHTML,
    serialized at SSEOpenAIController.java:186-239), as an ordered DataFrame
    ``(userId, id, seq, event_json)``.  JSON built with explicit concat so
    the bytes are engine-independent; the real LLM 'addMessage' stream is
    represented by one summary event (the LLM call is an opaque enrichment
    UDF seam, SURVEY.md §3.2).

    ``user_col`` names a per-row user column (multi-user serving batches —
    streaming/serve.py); default is the single literal ``user_id``.  A
    ``rank`` column on ``hits`` (the kNN join emits one) rides along so
    push sinks can deliver a user's hits in relevance order."""
    fname = json_escape("fileName")
    link = F.concat(
        F.lit("https://storage.example/pdfs/"),
        fname,
        F.lit("#page="),
        F.col("pageNumber").cast("string"),
    )  # URL shape: SSEOpenAIController.java:204-206
    esc = json_escape(
        F.regexp_replace(F.col("origntext"), " ", "<SPECIAL_WHITE_SPACE>")
    )  # SSEOpenAIController.java:226-228; Gson-style escaping on top
    j = lambda *parts: F.concat(*parts)  # noqa: E731
    q = lambda s: F.lit('"' + s + '"')  # noqa: E731
    events = F.array(
        j(F.lit('{"type":"create","id":"'), F.col("id"), F.lit('"}')),
        j(
            F.lit('{"type":"createLink","id":"'),
            F.col("id"),
            F.lit('","link":"'),
            link,
            F.lit('","pageNumber":'),
            F.col("pageNumber").cast("string"),
            F.lit(',"fileName":"'),
            fname,
            F.lit('"}'),
        ),
        j(
            F.lit('{"type":"addMessage","id":"'),
            F.col("id"),
            F.lit('","content":"'),
            esc,
            F.lit('"}'),
        ),
    )
    ucol = F.col(user_col) if user_col else F.lit(user_id)
    # rank (kNN relevance) and query_text (the submit) ride along when
    # present so push sinks can deliver each SUBMIT's events contiguously
    # in relevance order — the reference opens one Flux per POST /submit
    # (SSEOpenAIController.java:96-133), so two concurrent queries from
    # the same user are separate ordered streams, not an interleave.
    extra = [
        F.col(c) for c in ("rank", "query_text") if c in hits.columns
    ]
    return hits.select(
        ucol.alias("userId"),
        *extra,
        F.col("id"),
        F.posexplode(events).alias("seq", "event_json"),
    )
