"""The fused ingest kernel: one ``mapInPandas`` per micro-batch, computed
once for both outputs.

- ``ingest_documents`` equals the composition it replaced (native
  normalize -> chunk UDF -> ``posexplode`` -> hash-embedder UDF) on random
  pages: empty, null, long enough to split, Unicode whitespace.
- One ``ingest_stream`` micro-batch parses each file once, runs at most
  two Spark jobs, and its plan has a single Python node.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
    pipeline as P,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions import (
    embed as E,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions import (
    text as X,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.plans import (
    explain as EX,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.sources import (
    binary as B,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.sources import (
    minipdf as MP,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
    ingest as SI,
)

MAX_LEN = 40  # small, so generated pages split


def _docs(spark, texts):
    """A documents frame built from pandas (Arrow): unlike a frame from a
    list of rows, scanning it needs no Python worker."""
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(len(texts)),
                "text": texts,
                "source": [f"f{i % 3}.pdf" for i in range(len(texts))],
            }
        )
    )


def _composed_chunks(docs, max_len: int, dim: int):
    """The expression composition the kernel replaced: native normalize,
    the chunk pandas UDF, ``posexplode``, the hash-embedder pandas UDF."""
    chunks = docs.select(
        F.col("source").alias("fileName"),
        F.col("doc_id").cast("int").alias("pageNumber"),
        F.posexplode(
            X.chunk_udf(max_len)(X.normalize_text("text"))
        ).alias("chunkIdx", "origntext"),
    )
    chunk_id = F.sha2(
        F.concat_ws("|", "fileName", "pageNumber", "chunkIdx"), 256
    )
    return chunks.select(
        chunk_id.alias("id"),
        E.hash_embedder(dim)(F.col("origntext")).alias("embedding"),
        "origntext", "fileName", "pageNumber",
    )


_piece = st.sampled_from(
    ["word", "x", ". ", "!", "。", "  ", "\n", "\r\n", "\t", "\x0b", "\x1f",
     "\x85", "\xa0", " ", "é"]
)
_page = st.one_of(
    st.none(),
    st.just(""),
    st.lists(_piece, max_size=60).map("".join),
)


@given(st.lists(_page, min_size=1, max_size=60))
@settings(max_examples=3, deadline=None)
def test_ingest_documents_equals_composition(spark, pages):
    docs = _docs(spark, pages)
    dim = E.DEFAULT_DIM
    chunks, status = P.ingest_documents(docs, max_len=MAX_LEN, dim=dim)
    got = {
        (r["id"], tuple(r["embedding"]), r["origntext"], r["fileName"],
         r["pageNumber"])
        for r in chunks.collect()
    }
    want = {
        (r["id"], tuple(r["embedding"]), r["origntext"], r["fileName"],
         r["pageNumber"])
        for r in _composed_chunks(docs, MAX_LEN, dim).collect()
    }
    assert got == want
    # Every hash embedding passes the dimension check, so the composition's
    # event log is the four happy-path events per chunk.
    want_status = {
        (cid, f, p, s, seq)
        for cid, _, _, f, p in want
        for seq, s in enumerate(P.HAPPY_PATH)
    }
    assert {tuple(r) for r in status.collect()} == want_status


def _job_count(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def test_stream_batch_parses_once_in_two_jobs(spark, tmp_path, monkeypatch):
    inbox = tmp_path / "pdfs"
    inbox.mkdir()
    for i in range(3):
        (inbox / f"doc{i}.pdf").write_bytes(
            MP.make_pdf([f"File {i} page one.", f"File {i} page two!"])
        )
    parsed = spark.sparkContext.accumulator(0)
    file_pages = B.file_pages

    def counting_file_pages(files):
        parsed.add(len(files))
        return file_pages(files)

    # The kernel resolves B.file_pages on the driver and ships it in its
    # closure, so the counting wrapper is what the executors run.
    monkeypatch.setattr(B, "file_pages", counting_file_pages)
    out = tmp_path / "out"
    before = _job_count(spark)
    SI.ingest_stream(
        spark, str(inbox), str(out / "chunks"), str(out / "status"),
        str(out / "ckpt"),
    ).awaitTermination()
    jobs = _job_count(spark) - before

    assert parsed.value == 3
    assert jobs <= 2
    assert spark.read.parquet(str(out / "chunks")).count() == 6
    assert spark.read.parquet(str(out / "status")).count() == 24

    embedded = P.embed_files(
        B.pdf_filter(B.read_binary_dir(spark, str(inbox)))
    )
    assert EX.python_eval_nodes(embedded) == ["MapInPandas"]
    for df in P.chunks_and_status(embedded):
        assert EX.python_eval_nodes(df) == ["MapInPandas"]


def test_custom_embedder_runs_after_kernel(spark):
    """A custom embedder UDF applies to the kernel's chunks: its rows
    equal the default path's when it embeds the same way."""
    docs = _docs(spark, ["alpha beta. " * 10, None])
    custom, _ = P.ingest_documents(
        docs, max_len=MAX_LEN, embedder=E.hash_embedder(E.DEFAULT_DIM)
    )
    default, _ = P.ingest_documents(docs, max_len=MAX_LEN)
    nodes = EX.python_eval_nodes(custom)
    assert nodes.count("MapInPandas") == 1 and "ArrowEvalPython" in nodes
    want = sorted((r["id"], tuple(r["embedding"])) for r in default.collect())
    got = sorted((r["id"], tuple(r["embedding"])) for r in custom.collect())
    assert got == want and len(want) > 1


def test_chunk_documents_columns(spark):
    text = "one. two. three. " * 5
    docs = _docs(spark, [text])
    chunks = P.chunk_documents(docs, max_len=MAX_LEN)
    assert chunks.columns == [
        "id", "fileName", "pageNumber", "chunkIdx", "origntext"
    ]
    got = [r["origntext"] for r in chunks.orderBy("chunkIdx").collect()]
    assert got == X.split_text_py(X.normalize_text_py(text), MAX_LEN)
    assert len(got) > 1
