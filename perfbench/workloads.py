"""The benchmark's workloads: ``ingest``, ``rag_query`` (whose traced pass
also measures batched serving) and ``curation``.  Each drives the package
only through its public functions, on inputs made by :mod:`gen` from the
run's seed, and checks every output with :mod:`oracles` outside the timed
region.

A workload has:

- ``setup(rep)``: input generation plus store build; timed as set-up and
  repeated so set-up time is a median;
- ``prepare_oracle()``: the oracle's own preparation, never timed;
- ``op(i)``: one timed operation, returning ``(items done, output)``;
- ``check(i, output)``: the oracle verdict for that output;
- ``traced(tracer, n)``: the per-layer pass, returning layer metrics.

Sizes keep one run of any workload, set-up included, near 40 seconds on
a 4-core host, so that the 70 runs of a full evaluation fit in under an
hour: the JVM start and the first, cold Spark job alone cost about 15
seconds whatever the size.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import pipeline as P
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions import (
    embed as E,
    text as X,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    dedup as D,
    knn as K,
    selection as SEL,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.queries import (
    ORACLES,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.sources import (
    binary as B,
    minipdf,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
    ingest as ING,
    serve as S,
)

import gen
import oracles
from stats import median


def noop(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""
    warmup_ops = 1
    layer_metrics: tuple[str, ...] = ()
    op_span = ""        # the traced span that wraps one whole operation
    trace_ops = 1       # operations in the traced pass

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        pass

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> bool:
        raise NotImplementedError

    def traced(self, tr, n: int) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# ingest — PDF upload batches through the streaming ingest
# ---------------------------------------------------------------------------


class Ingest(Workload):
    """Fixed-size upload batches of generated PDFs through
    ``streaming.ingest.ingest_stream``: parse, normalize, chunk, embed,
    then write the chunks table and the status log."""

    name = "ingest"
    warmup_ops = 2
    op_span = "streaming.ingest.ingest_stream"
    layer_metrics = (
        "sources.binary.extract_pages_s", "functions.text.chunk_s",
        "functions.embed.embed_s", "pipeline.ingest_write_s", "ingest.spark_jobs",
        "ingest.task_s", "ingest.jvm_cpu_s", "ingest.chunks",
    )
    FILES_PER_BATCH = 8
    PAGES_PER_FILE = 6
    POOL_BATCHES = 6

    def setup(self, rep: int) -> None:
        inbox = _fresh(os.path.join(self.work, f"inbox{rep}"))
        self.batches = []
        for b in range(self.POOL_BATCHES):
            d = _fresh(os.path.join(inbox, f"b{b}"))
            batch = []
            for f in range(b * self.FILES_PER_BATCH, (b + 1) * self.FILES_PER_BATCH):
                name, pages, pdf = self._pdf(f)
                with open(os.path.join(d, name), "wb") as out:
                    out.write(pdf)
                batch.append((name, pages))
            self.batches.append((d, batch))
        if rep:
            shutil.rmtree(os.path.join(self.work, f"inbox{rep - 1}"), ignore_errors=True)

    def _pdf(self, index: int):
        """Generated document ``index`` and its PDF bytes.  The bundled
        extractor reads a Flate stream whose last byte is CR one byte
        short (it takes the CR for part of the line end before
        ``endstream``) and loses that page, a known defect; such
        documents are redrawn so every operation has a correct answer."""
        attempt = 0
        while True:
            name, pages = gen.pdf_file(self.seed, index, attempt, self.PAGES_PER_FILE)
            pdf = minipdf.make_pdf(pages)
            if b"\r\nendstream" not in pdf:
                return name, pages, pdf
            attempt += 1

    def prepare_oracle(self) -> None:
        self.want = [
            (
                oracles.expected_chunks(
                    [gen.page_text(p) for _, pages in batch for p in pages],
                    X.split_text_py, X.normalize_text_py,
                ),
                {name for name, _ in batch},
            )
            for _, batch in self.batches
        ]

    def _ingest(self, i: int) -> str:
        d, _ = self.batches[i % self.POOL_BATCHES]
        out = _fresh(os.path.join(self.work, "out", f"op{i}"))
        q = ING.ingest_stream(
            self.spark, d, os.path.join(out, "chunks"),
            os.path.join(out, "status"), os.path.join(out, "ckpt"),
        )
        q.awaitTermination()
        return out

    def op(self, i: int):
        return self.FILES_PER_BATCH * self.PAGES_PER_FILE, self._ingest(i)

    def check(self, i: int, out) -> bool:
        n_chunks, files = self.want[i % self.POOL_BATCHES]
        try:
            return oracles.check_ingest(
                os.path.join(out, "chunks"), os.path.join(out, "status"),
                n_chunks, files, P.HAPPY_PATH, E.DEFAULT_DIM,
            )
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def traced(self, tr, n: int) -> dict[str, float]:
        """Self times by materializing successive prefixes of the plan:
        parse, then parse+chunk, then parse+chunk+embed; the write is the
        whole streaming ingest, which re-runs the chain once per output."""
        rows = []
        for i in range(n):
            d, _ = self.batches[i % self.POOL_BATCHES]
            with tr.span("ingest.batch", request=f"batch-{i}"):
                with tr.span("sources.binary.extract_pages") as s_ex:
                    pages = B.extract_pages(B.pdf_filter(B.read_binary_dir(self.spark, d)))
                    noop(pages)
                with tr.span("functions.text.chunk") as s_ch:
                    noop(P.chunk_documents(pages, "text", "fileName", "pageNumber"))
                with tr.span("functions.embed.embed") as s_em:
                    noop(P.ingest_documents(pages, "text", "fileName", "pageNumber")[0])
                with tr.span("streaming.ingest.ingest_stream") as s_wr:
                    out = self._ingest(i)
            chunks = pq.read_table(os.path.join(out, "chunks"), columns=["id"]).num_rows
            shutil.rmtree(out, ignore_errors=True)
            ex, ch, em = (tr.duration(s) for s in (s_ex, s_ch, s_em))
            c = s_wr["counters"]
            rows.append({
                "sources.binary.extract_pages_s": ex,
                "functions.text.chunk_s": ch - ex,
                "functions.embed.embed_s": em - ch,
                "pipeline.ingest_write_s": tr.duration(s_wr),
                "ingest.spark_jobs": c["spark_jobs"],
                "ingest.task_s": c["task_s"],
                "ingest.jvm_cpu_s": c["jvm_cpu_s"],
                "ingest.chunks": chunks,
            })
        return _median_rows(rows)


# ---------------------------------------------------------------------------
# rag_query — one closed-loop client asking questions; batched serving
# ---------------------------------------------------------------------------


class RagQuery(Workload):
    """Embed, exact L2 top-5, per-hit summary and SSE events per question.

    Its traced pass also serves multi-user micro-batches over the same
    table through ``streaming.serve.batch_search`` (the mapInPandas BLAS
    top-k join) and the multi-user SSE projection, so the batched read
    layers are measured without a workload of their own."""

    name = "rag_query"
    # Request latency keeps falling for the first few requests after the
    # table build; four warm-up requests get past that.
    warmup_ops = 4
    op_span = "rag.request"
    trace_ops = 3
    layer_metrics = (
        "functions.embed.query_embed_ms", "operators.knn.search_ms",
        "pipeline.summaries_ms", "pipeline.sse_events_ms",
        "rag.spark_jobs_per_request", "rag.spark_tasks_per_request",
        "operators.knn.knn_join_s", "streaming.serve.batch_search_s",
        "pipeline.sse_events_s", "serve.spark_jobs_per_batch",
        "serve.shuffle_bytes_per_batch", "serve.task_s", "serve.jvm_cpu_s",
    )
    TABLE_PAGES = 5_000
    N_QUESTIONS = 500
    BATCH = 512
    USERS = 64
    SERVE_BATCHES = 1

    def setup(self, rep: int) -> None:
        """Build the vector table with the program's own ingest, persist
        it, read it back, and draw the questions and serving batches."""
        rows = gen.table_pages(self.seed, self.TABLE_PAGES)
        docs = self.spark.createDataFrame(
            pd.DataFrame(rows, columns=["source", "doc_id", "text"])
        )
        chunks, _ = P.ingest_documents(docs)
        path = os.path.join(self.work, f"table{rep}")
        chunks.write.mode("overwrite").parquet(path)
        self.table_path = path
        self.chunks = self.spark.read.parquet(path)
        if rep:
            shutil.rmtree(os.path.join(self.work, f"table{rep - 1}"), ignore_errors=True)
        self.questions = gen.questions(self.seed, self.N_QUESTIONS)
        self.batches = [
            gen.probe_batch(self.seed, b, self.BATCH, self.USERS)
            for b in range(self.SERVE_BATCHES)
        ]

    def prepare_oracle(self) -> None:
        self.oracle = oracles.VectorOracle.from_parquet(self.table_path)
        self.probes = [
            {q: E.hash_embed_py(q) for _, q in batch} for batch in self.batches
        ]
        self.want = [
            dict(zip(p, self.oracle.topk(list(p.values())))) for p in self.probes
        ]

    def _request(self, q: str):
        summ = P.summaries(P.search(self.chunks, q), q)
        return summ.collect(), P.sse_events(summ).collect()

    def op(self, i: int):
        q = self.questions[i % self.N_QUESTIONS]
        return 1, (q, *self._request(q))

    def check(self, i: int, out) -> bool:
        q, rows, events = out
        probe = E.hash_embed_py(q)
        want = self.oracle.topk(probe)[0]
        rows = sorted(rows, key=lambda r: (r["dist"], r["id"]))
        ok = self.oracle.hits_match(
            probe, [r["id"] for r in rows], [r["dist"] for r in rows], want
        )
        ok &= all(r["summary"] for r in rows)
        ok &= len(events) == oracles.EVENTS_PER_HIT * len(want[0])
        ids = {r["id"] for r in rows}
        ok &= all(json.loads(e["event_json"])["id"] in ids for e in events)
        return ok

    def _serve_probes(self, b: int):
        return self.spark.createDataFrame(
            pd.DataFrame(self.batches[b], columns=["user_id", "query_text"])
        )

    def _serve(self, b: int):
        hits = S.batch_search(self._serve_probes(b), self.chunks)
        return P.sse_events(hits, user_col="user_id").collect()

    def check_batch(self, b: int, events) -> bool:
        """Every submit of batch ``b`` gets its oracle top-5, rank by rank,
        three events per hit."""
        per: dict[tuple[str, str], list] = {}
        for e in events:
            per.setdefault((e["userId"], e["query_text"]), []).append(e)
        if set(per) != set(self.batches[b]):
            return False
        for (_, q), evs in per.items():
            want = self.want[b][q]
            if len(evs) != oracles.EVENTS_PER_HIT * len(want[0]):
                return False
            by_rank: dict[int, set[str]] = {}
            for e in evs:
                by_rank.setdefault(e["rank"], set()).add(e["id"])
            if sorted(by_rank) != list(range(1, len(want[0]) + 1)):
                return False
            if any(len(v) != 1 for v in by_rank.values()):
                return False
            got = [next(iter(by_rank[r])) for r in sorted(by_rank)]
            if not self.oracle.hits_match(self.probes[b][q], got, None, want):
                return False
        return True

    def traced(self, tr, n: int) -> dict[str, float]:
        """Counters over whole requests and batches.  Layer self times come
        from prefixes, each built and run anew inside its span:
        search alone, then summaries over the search, then events over the
        summaries (which never reads the summary column); for a serving
        batch, the kNN join over the embedded probes, then the whole batch
        search, then the SSE projection over it."""
        rows = []
        for i in range(n):
            q = self.questions[(i + 101) % self.N_QUESTIONS]
            with tr.span("rag.request", request=f"q-{i}") as s_req:
                self._request(q)
            with tr.span("rag.layers", request=f"q-{i}"):
                with tr.span("functions.embed.hash_embed_py") as s_em:
                    E.hash_embed_py(q)
                with tr.span("operators.knn.knn") as s_se:
                    P.search(self.chunks, q).collect()
                with tr.span("pipeline.summaries") as s_su:
                    P.summaries(P.search(self.chunks, q), q).collect()
                with tr.span("pipeline.sse_events") as s_ev:
                    P.sse_events(P.summaries(P.search(self.chunks, q), q)).collect()
            se = tr.duration(s_se)
            c = s_req["counters"]
            rows.append({
                "functions.embed.query_embed_ms": tr.duration(s_em) * 1e3,
                "operators.knn.search_ms": se * 1e3,
                "pipeline.summaries_ms": (tr.duration(s_su) - se) * 1e3,
                "pipeline.sse_events_ms": (tr.duration(s_ev) - se) * 1e3,
                "rag.spark_jobs_per_request": c["spark_jobs"],
                "rag.spark_tasks_per_request": c["spark_tasks"],
            })
        out = _median_rows(rows)
        out.update(self._traced_serve(tr))
        return out

    def _traced_serve(self, tr) -> dict[str, float]:
        rows = []
        for b in range(self.SERVE_BATCHES):
            with tr.span("serve.batch", request=f"batch-{b}") as s_b:
                events = self._serve(b)
            if not self.check_batch(b, events):
                raise RuntimeError(f"serve batch {b}: output differs from the oracle")
            with tr.span("serve.layers", request=f"batch-{b}"):
                with tr.span("operators.knn.knn_join") as s_kj:
                    emb = self._serve_probes(b).select(
                        F.concat_ws("\x1f", "user_id", "query_text").alias("probe_id"),
                        E.hash_embedder()(F.col("query_text")).alias("embedding"),
                    )
                    items = self.chunks.select(F.col("id").alias("item_id"), "embedding")
                    noop(K.knn_join(emb, items))
                with tr.span("streaming.serve.batch_search") as s_bs:
                    noop(S.batch_search(self._serve_probes(b), self.chunks))
                with tr.span("pipeline.sse_events") as s_ev:
                    self._serve(b)
            kj, bs = tr.duration(s_kj), tr.duration(s_bs)
            c = s_b["counters"]
            rows.append({
                "operators.knn.knn_join_s": kj,
                "streaming.serve.batch_search_s": bs - kj,
                "pipeline.sse_events_s": tr.duration(s_ev) - bs,
                "serve.spark_jobs_per_batch": c["spark_jobs"],
                "serve.shuffle_bytes_per_batch": c["shuffle_bytes"],
                "serve.task_s": c["task_s"],
                "serve.jvm_cpu_s": c["jvm_cpu_s"],
            })
        return _median_rows(rows)


# ---------------------------------------------------------------------------
# curation — the composed curation pipeline over a documents corpus
# ---------------------------------------------------------------------------


class Curation(Workload):
    """One ``operators.dedup.curate_corpus_v2`` run per operation: quality
    gate, perplexity terciles, exact dedup, near-dup pairs, leakage-safe
    split and DSIR selection."""

    name = "curation"
    op_span = "curation.run"
    STAGES = (
        "operators.dedup.curation_v2_gated", "operators.dedup.curation_v2_kept",
        "operators.dedup.jaccard_pairs", "operators.dedup.leakage_safe_split",
        "operators.selection.dsir_select",
    )
    layer_metrics = (
        "curation.build_s", "curation.exec_s", "curation.spark_jobs",
        "curation.spark_stages", "curation.spark_tasks", "curation.task_s",
        "curation.shuffle_bytes", "curation.spill_bytes",
    ) + tuple(f"{s}_{x}" for s in STAGES for x in ("s", "rows"))
    N_DOCS = 1200

    def setup(self, rep: int) -> None:
        rows = gen.curation_corpus(self.seed, self.N_DOCS)
        self.docs_pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
        path = os.path.join(self.work, f"docs{rep}")
        self.spark.createDataFrame(self.docs_pdf).write.mode("overwrite").parquet(path)
        self.docs = self.spark.read.parquet(path)
        if rep:
            shutil.rmtree(os.path.join(self.work, f"docs{rep - 1}"), ignore_errors=True)

    def prepare_oracle(self) -> None:
        self.want = oracles.curation_oracle(self.docs_pdf, ORACLES["curation_v2_pipeline"])

    def op(self, i: int):
        return self.N_DOCS, D.curate_corpus_v2(self.docs, min_stops=0).toPandas()

    def check(self, i: int, out) -> bool:
        return oracles.canonical_rows(out) == self.want

    def traced(self, tr, n: int) -> dict[str, float]:
        """Build vs action time and status-store counters over whole runs,
        then stage self times and rows out from the public stage
        functions called in order, each stage checkpointed so the next
        one starts from its output."""
        rows = []
        for i in range(n):
            with tr.span("curation.run", request=f"run-{i}") as s_run:
                with tr.span("operators.dedup.curate_corpus_v2") as s_build:
                    df = D.curate_corpus_v2(self.docs, min_stops=0)
                with tr.span("curation.action") as s_exec:
                    out = df.toPandas()
            if not self.check(i, out):
                raise RuntimeError(f"curation run {i}: output differs from the oracle")
            row = {
                "curation.build_s": tr.duration(s_build),
                "curation.exec_s": tr.duration(s_exec),
            }
            row.update({f"curation.{k}": v for k, v in s_run["counters"].items()
                        if k != "jvm_cpu_s"})
            with tr.span("curation.stages", request=f"run-{i}"):
                stages = []
                with tr.span("operators.dedup.curation_v2_gated") as s:
                    gated = D.curation_v2_gated(self.docs, min_stops=0).localCheckpoint()
                stages.append(("operators.dedup.curation_v2_gated", s, gated))
                with tr.span("operators.dedup.curation_v2_kept") as s:
                    kept = D.curation_v2_kept(gated).localCheckpoint()
                stages.append(("operators.dedup.curation_v2_kept", s, kept))
                with tr.span("operators.dedup.jaccard_pairs") as s:
                    pairs = D.jaccard_pairs(
                        kept, "text", "id", n=3, threshold=0.8, max_df=5
                    ).localCheckpoint()
                stages.append(("operators.dedup.jaccard_pairs", s, pairs))
                with tr.span("operators.dedup.leakage_safe_split") as s:
                    split = D.leakage_safe_split(kept, "text", "id", pairs=pairs).localCheckpoint()
                stages.append(("operators.dedup.leakage_safe_split", s, split))
                surv = (
                    kept.join(split, "id")
                    .filter(F.col("id") == F.col("cluster_rep"))
                    .select("id", "lang", "text")
                )
                with tr.span("operators.selection.dsir_select") as s:
                    sel = SEL.dsir_select(
                        surv, F.col("lang") == F.lit("en"), k=100, m=1024,
                        text_col="text", id_col="id", bigrams=True, hash_fn="md5",
                    ).localCheckpoint()
                stages.append(("operators.selection.dsir_select", s, sel))
            for name, s, df in stages:
                row[f"{name}_s"] = tr.duration(s)
                row[f"{name}_rows"] = s["rows"] = df.count()
            rows.append(row)
        return _median_rows(rows)


def _median_rows(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: median([r[k] for r in rows]) for k in rows[0]}


WORKLOADS = {w.name: w for w in (Ingest, RagQuery, Curation)}
