"""Rows-only queries (not SQL-expressible — driver records the weaker check) + oracle twins that anchor them.

Mechanical split of the former single-file queries.py (round 9) — the
section bodies are verbatim; only relative-import depth changed.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from .vector import _SQL_NORM  # noqa: F401


# ---------------------------------------------------------------------------
# Rows-only queries (not SQL-expressible — driver records weaker check)
# ---------------------------------------------------------------------------


@query(
    "token_frequencies_salted",
    r"""
SELECT token, CAST(count(*) AS BIGINT) AS freq
FROM (
  SELECT unnest(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS token
  FROM documents)
GROUP BY token ORDER BY freq DESC, token LIMIT 100
""",
)
def token_frequencies_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe word count (SURVEY.md §4.4): two-phase salted aggregation —
    identical semantics to token_frequencies_top100 (same oracle!), but each
    hot token spreads over 16 reducers in phase one.  The low-vocab fixture
    corpus is exactly the skew case: every token is hot."""
    from ..operators.skew import salted_count

    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs).select(F.explode(X.word_tokens("text")).alias("token"))
    return (
        salted_count(toks, ["token"], salt_buckets=16)
        .withColumnRenamed("count", "freq")
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(100)
    )

@query(
    "status_state_machine",
    """
WITH happy(step, status) AS (VALUES
    (0, 'PAGE_SEPARATE_FINISHED'), (1, 'FINISH_OAI_INVOCATION'),
    (2, 'FINISH_DB_INSERTION'), (3, 'COMPLETED')),
failp(step, status) AS (VALUES
    (0, 'PAGE_SEPARATE_FINISHED'), (1, 'FINISH_OAI_INVOCATION'),
    (2, 'FAILED_DB_INSERTION'), (3, 'COMPLETED')),
ev AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS id, p.status, p.step AS seq
  FROM documents d JOIN happy p ON d.doc_id % 7 <> 0
  UNION ALL
  SELECT CAST(d.doc_id AS VARCHAR) AS id, p.status, p.step AS seq
  FROM documents d JOIN failp p ON d.doc_id % 7 = 0),
w AS (SELECT id, status, seq,
             lag(status) OVER (PARTITION BY id ORDER BY seq) AS prev
      FROM ev)
SELECT id,
       arg_max(status, seq) AS status,
       CAST(count(*) AS INTEGER) AS n_events,
       bool_and(CASE
         WHEN prev IS NULL THEN status = 'PAGE_SEPARATE_FINISHED'
         WHEN prev = 'PAGE_SEPARATE_FINISHED'
           THEN status IN ('RETRY_OAI_INVOCATION', 'FINISH_OAI_INVOCATION')
         WHEN prev = 'RETRY_OAI_INVOCATION'
           THEN status IN ('RETRY_OAI_INVOCATION', 'FINISH_OAI_INVOCATION')
         WHEN prev = 'FINISH_OAI_INVOCATION'
           THEN status IN ('FINISH_DB_INSERTION', 'FAILED_DB_INSERTION')
         WHEN prev = 'FINISH_DB_INSERTION' THEN status = 'COMPLETED'
         ELSE FALSE END) AS valid
FROM w GROUP BY id ORDER BY id
""",
)
def status_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-chunk status state machine (SURVEY.md §2A row 30) run through
    the engine's custom stateful operator (streaming/state.py batch twin —
    the exact fold the applyInPandasWithState operator uses).  Events are
    synthesized deterministically from the documents table: docs where
    doc_id % 7 == 0 take the failure path, which ends with the reference's
    COMPLETED-after-failure quirk and must come out valid = false."""
    from ..streaming import state as ST

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    happy = spark.createDataFrame(
        list(enumerate(["PAGE_SEPARATE_FINISHED", "FINISH_OAI_INVOCATION",
                        "FINISH_DB_INSERTION", "COMPLETED"])),
        "step int, status string",
    )
    failp = spark.createDataFrame(
        list(enumerate(["PAGE_SEPARATE_FINISHED", "FINISH_OAI_INVOCATION",
                        "FAILED_DB_INSERTION", "COMPLETED"])),
        "step int, status string",
    )
    ev = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .crossJoin(F.broadcast(happy))
        .union(
            docs.filter(F.col("doc_id") % 7 == 0).crossJoin(F.broadcast(failp))
        )
        .select(
            F.col("doc_id").cast("string").alias("id"),
            "status",
            F.col("step").cast("long").alias("seq"),
        )
    )
    return ST.track_status_batch(ev).orderBy("id")

@query(
    "dedup_clusters",
    r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
elig AS (SELECT e.doc_id, e.s FROM ex e JOIN dfreq d ON e.s = d.s
         WHERE d.df <= 5),
na AS (SELECT doc_id, count(*) AS n_sh FROM elig GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM elig a JOIN elig b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN na x ON c.id_a = x.doc_id
  JOIN na y ON c.id_b = y.doc_id
  WHERE CAST(c.inter AS DOUBLE) / (x.n_sh + y.n_sh - c.inter) >= 0.8),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
SELECT a AS node, least(a, min(b)) AS cluster
FROM reach GROUP BY a ORDER BY node
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs folded into dedup groups (SURVEY.md §2B B5
    "connected components / keep-min-id"): every node of the
    exact-Jaccard pair graph labelled with its component's minimum id by
    ``connected_components_star``.  The oracle states the same fixpoint
    as a recursive transitive closure — viable at 500 docs, quadratic at
    scale, which is why the engine side contracts the graph in O(log n)
    large-star/small-star rounds (or one driver union-find below the
    edge bound).  Pairs come from the df-capped Jaccard (max_df=5,
    mirrored in the oracle — see jaccard_similar_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8, max_df=5)
    return D.connected_components_star(pairs).orderBy("node")

@query("udtf_chunk_lateral")
def udtf_chunk_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDF/UDAF/UDTF extension surface driven entirely from SQL
    (SURVEY.md §2B B14): the chunker UDTF applied LATERALLY per document,
    plus the registered scalar UDF.  Python UDTF -> rows-only."""
    from ..functions import udtf as U

    U.register_all(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__docs_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.chunk_idx,
               length(t.chunk) AS chunk_len,
               token_count_py(t.chunk) AS chunk_tokens
        FROM __docs_udtf d, LATERAL chunk_text(d.text, 120, 20) t
        ORDER BY d.doc_id, t.chunk_idx
        """
    )

@query("multimodal_image_pipeline")
def multimodal_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline (SURVEY.md §2B B15): a synthetic
    image per document (deterministic fake codec, generated *on executors*
    by a pandas UDF — no driver loop), decoded to shape/intensity stats via
    ``mapInPandas`` and embedded with the media hash-embedder in the SAME
    pass (a fused profile — decoding stats and embedding separately would
    ship every payload across the Python boundary twice).  Binary UDF
    pipeline -> rows-only.

    r11 witness: ``ref_diff_rows`` — a bounded sample (32 ids) of the
    fused mapInPandas output is recomputed IN PURE DRIVER PYTHON from
    the same deterministic codec (encode -> decode -> shape/mean) and
    disagreeing rows counted; constant 0 = the distributed decode path
    reproduces outside the executors, the dsir_select_gumbel witness
    convention applied to the last composed rows-only multimodal demo."""
    from ..sources import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    @F.pandas_udf("binary")
    def fake_img(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [MM.encode_fake_image(8, 8, 3, seed=int(i)) for i in ids]
        )

    media = spread(docs).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        fake_img("doc_id").alias("content"),
        F.struct(
            F.lit("synthetic").alias("source"), F.lit("fake").alias("codec")
        ).alias("meta"),
    )
    out = MM.image_profile(media, dim=16).select(
        "media_id", "width", "height", "channels",
        F.round("mean_pixel", 4).alias("mean_pixel"),
        F.round(V.l2_norm("embedding"), 4).alias("emb_norm"),
    )
    ref_diff = 0
    for row in out.orderBy("media_id").limit(32).collect():
        dec = MM.decode_fake_image(
            MM.encode_fake_image(8, 8, 3, seed=int(row["media_id"]))
        )
        assert dec is not None
        w, h, c, px = dec
        ok = (
            row["width"] == w
            and row["height"] == h
            and row["channels"] == c
            # half-a-rounding-step tolerance: Spark rounds HALF_UP,
            # Python half-even — a mean landing exactly on a 1e-4/2
            # boundary (possible: pixel sums over 2^6*3 values) differs
            # by one rounding step between the conventions.
            and abs(row["mean_pixel"] - float(px.mean())) <= 5.0001e-5
        )
        ref_diff += 0 if ok else 1
    return (
        out.withColumn("ref_diff_rows", F.lit(ref_diff).cast("long"))
        .orderBy("media_id")
    )

@query(
    "multimodal_fixed_stats",
    """
WITH m AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS width,
         CAST(3 + doc_id % 4 AS INTEGER) AS height,
         (4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS n
  FROM documents)
SELECT doc_id AS media_id, width, height, CAST(3 AS INTEGER) AS channels,
       CAST(list_sum(list_transform(range(0, n),
              k -> (doc_id * 31 + k * 7) % 256)) AS DOUBLE) / n AS mean_pixel
FROM m ORDER BY media_id
""",
)
def multimodal_fixed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode STATS with formula-derivable fixtures (VERDICT
    r8 next-round #6 — the fixed-parameters move applied to B15, the
    last §2B row with no oracle presence): one REAL binary PPM (netpbm
    ``P6``, parsed by the stdlib-only ``decode_ppm`` — no PIL) per
    document, generated ON EXECUTORS with formula pixels
    ``px[k] = (doc_id*31 + k*7) % 256`` at formula dims
    ``w = 4 + doc_id%5, h = 3 + doc_id%4``, decoded through the real
    ``mapInPandas`` stats path (sources.multimodal.image_info).  Width/
    height/channels check the container round-trip byte-exactly;
    mean_pixel is an exact integer sum (< 2^15, float64-exact) over one
    IEEE division, so the SQL twin derives every output from doc_id
    alone.  The CODEC seam itself (PIL/soundfile gating) stays
    rows-only via multimodal_image_pipeline."""
    from ..sources import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    @F.pandas_udf("binary")
    def ppm_of(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for i in ids:
            i = int(i)
            w, h = 4 + i % 5, 3 + i % 4
            n = w * h * 3
            px = (i * 31 + np.arange(n, dtype=np.int64) * 7) % 256
            out.append(MM.encode_ppm(w, h, px.astype(np.uint8)))
        return pd.Series(out)

    media = spread(docs).select(
        F.col("doc_id").alias("media_id"), ppm_of("doc_id").alias("content")
    )
    return MM.image_info(media).orderBy("media_id")

@query(
    "multimodal_audio_fixed_stats",
    """
WITH m AS (
  SELECT doc_id,
         CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
         400 + (doc_id % 7) * 50 AS n
  FROM documents)
SELECT doc_id AS media_id, sample_rate, CAST(n AS INTEGER) AS n_samples,
       sqrt(CAST(list_sum(list_transform(range(0, n),
              k -> ((doc_id * 37 + k * 11) % 2001 - 1000)
                   * ((doc_id * 37 + k * 11) % 2001 - 1000)))
            AS DOUBLE) / n) AS rms
FROM m ORDER BY media_id
""",
)
def multimodal_audio_fixed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal_fixed_stats move for AUDIO (§2B B15): one REAL
    RIFF/WAVE PCM 16-bit mono file per document — written by the stdlib
    ``encode_wav``, parsed back by the chunk-walking ``decode_wav``, no
    soundfile — with formula samples ``s[k] = (doc_id*37 + k*11) % 2001
    - 1000`` at formula rate/length, decoded through the real
    ``mapInPandas`` stats path (sources.multimodal.audio_info).  The
    container round-trip (rate, n_samples) is byte-exact; the rms is
    bit-deterministic because int16 squares sum EXACTLY in float64
    (sums far below 2^53), leaving one IEEE divide + one sqrt — the
    same single-op discipline as the distance oracles, so the SQL twin
    derives everything from doc_id alone."""
    from ..sources import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    @F.pandas_udf("binary")
    def wav_of(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for i in ids:
            i = int(i)
            rate = 8000 + (i % 3) * 4000
            n = 400 + (i % 7) * 50
            s = ((i * 37 + np.arange(n, dtype=np.int64) * 11) % 2001) - 1000
            out.append(MM.encode_wav(rate, s.astype(np.int16)))
        return pd.Series(out)

    media = spread(docs).select(
        F.col("doc_id").alias("media_id"), wav_of("doc_id").alias("content")
    )
    return MM.audio_info(media).orderBy("media_id")

@query(
    "multimodal_resize_fixed",
    """
WITH m AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents)
SELECT doc_id AS media_id,
       CAST(3 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
       CAST(list_sum(list_transform(range(0, 18),
            j -> (j + 1) * ((doc_id * 31
                  + (((((j // 9) * h) // 2) * w
                      + ((((j % 9) // 3) * w) // 3)) * 3 + (j % 3)) * 7)
                 % 256))) AS BIGINT) AS pixel_wsum
FROM m ORDER BY media_id
""",
)
def multimodal_resize_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal TRANSFORM path's oracle row (VERDICT r9 next-round
    #4 — resize was the last mechanism family with no oracle presence):
    the same formula-pixel P6 PPM fixtures as ``multimodal_fixed_stats``,
    pushed through the REAL ``mapInPandas`` nearest-neighbor resize
    (sources.multimodal.image_resize, 3x2 output), whose emitted
    container is then decoded and reduced to a POSITION-WEIGHTED pixel
    checksum ``sum (j+1) * px[j]`` — sensitive to every output byte and
    its layout, not just the mean.  Resize selects source pixel
    ``(y*h div 2, x*w div 3)`` per output ``(y, x)`` and the source
    pixels are ``(doc_id*31 + k*7) % 256`` at ``k = (sy*w + sx)*3 + ch``,
    so the SQL twin derives the checksum from doc_id alone —
    all-integer, bit-exact.  The codec seam (PIL swap-in) stays
    rows-only via multimodal_image_pipeline."""
    import numpy as np

    from ..sources import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    @F.pandas_udf("binary")
    def ppm_of(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w, h = 4 + i % 5, 3 + i % 4
            n = w * h * 3
            px = (i * 31 + np.arange(n, dtype=np.int64) * 7) % 256
            out.append(MM.encode_ppm(w, h, px.astype(np.uint8)))
        return pd.Series(out)

    @F.pandas_udf("long")
    def wsum(content: pd.Series) -> pd.Series:
        vals = []
        for b in content:
            w, h, c, px = MM.decode_fake_image(bytes(b))
            flat = px.reshape(-1).astype(np.int64)
            vals.append(int(((np.arange(flat.size) + 1) * flat).sum()))
        return pd.Series(vals)

    media = spread(docs).select(
        F.col("doc_id").alias("media_id"), ppm_of("doc_id").alias("content")
    )
    return (
        MM.image_resize(media, out_w=3, out_h=2)
        .select(
            "media_id", "width", "height",
            wsum("content").alias("pixel_wsum"),
        )
        .orderBy("media_id")
    )

@query(
    "multimodal_framesample_fixed",
    """
WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
fr AS (
  SELECT doc_id, unnest(list_filter(range(0, nf), i -> i % 2 = 0))
           AS frame_idx
  FROM m)
SELECT doc_id AS media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(list_sum(list_transform(range(0, 5),
            t -> (t + 1) * ((doc_id * 13 + frame_idx * 17 + t * 3) % 256)))
         AS BIGINT) AS frame_wsum
FROM fr ORDER BY media_id, frame_idx
""",
)
def multimodal_framesample_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal FRAME-SAMPLE path's oracle row (same VERDICT r9 #4
    move): formula videos — ``2 + doc_id%4`` frames of 5 bytes,
    ``frame[i][t] = (doc_id*13 + i*17 + t*3) % 256`` — through the real
    ``mapInPandas`` every-2nd-frame explode
    (sources.multimodal.video_sample_frames), each emitted frame reduced
    to the position-weighted checksum.  Verifies WHICH frames are
    sampled (the stride/index arithmetic and the explode row shape) and
    every payload byte, from doc_id alone."""
    import numpy as np

    from ..sources import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    @F.pandas_udf("binary")
    def vid_of(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            frames = [
                bytes(
                    ((i * 13 + fi * 17 + np.arange(5, dtype=np.int64) * 3)
                     % 256).astype(np.uint8)
                )
                for fi in range(2 + i % 4)
            ]
            out.append(MM.encode_fake_video(frames))
        return pd.Series(out)

    @F.pandas_udf("long")
    def wsum(frame: pd.Series) -> pd.Series:
        vals = []
        for b in frame:
            flat = np.frombuffer(bytes(b), dtype=np.uint8).astype(np.int64)
            vals.append(int(((np.arange(flat.size) + 1) * flat).sum()))
        return pd.Series(vals)

    media = spread(docs).select(
        F.col("doc_id").alias("media_id"), vid_of("doc_id").alias("content")
    )
    return (
        MM.video_sample_frames(media, every=2)
        .select("media_id", "frame_idx", wsum("frame").alias("frame_wsum"))
        .orderBy("media_id", "frame_idx")
    )

@query("embed_http_roundtrip")
def embed_http_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The network embedding transport, driver-visible over REAL sockets
    (r10 — SURVEY §7.4 item 2, VERDICT r9 "missing" #2): executors POST
    each text to a loopback twin of the vendor embeddings endpoint
    (functions/embed.local_embedding_server — the Azure OpenAI wire
    shape) through retrying_embedder + http_transport; marked texts get
    real 429s for two attempts (retry-to-success) or 503 always
    (terminal empty-embedding path, Function.java:207-209).

    Witness columns (0 iff the HTTP path is faithful):
    ``http_diff_rows`` — rows whose HTTP-fetched embedding differs from
    the in-process deterministic hash embedding (or, for terminal
    failures, is non-empty).  Expected attempts ride along per row."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 9)
        .select("doc_id", "text")
    )
    marked = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat("text", F.lit(" <<TRANSIENT>>")),
        )
        .when(
            F.col("doc_id") % 3 == 2, F.concat("text", F.lit(" <<FATAL>>"))
        )
        .otherwise(F.col("text")),
    )
    server, url = E.local_embedding_server(dim=16, fail_first=2)
    try:
        emb = E.retrying_embedder(
            E.http_transport(url, dim=16), max_attempts=3, backoff_s=0.0
        )
        ref = E.hash_embedder(16)
        scored = marked.select(
            "doc_id",
            emb("text").alias("e"),
            ref("text").alias("ref_emb"),
            (F.col("doc_id") % 3 == 2).alias("is_fatal"),
        ).localCheckpoint(eager=True)  # materialize BEFORE server shutdown
    finally:
        server.shutdown()
    bad = F.when(
        F.col("is_fatal"), F.size(F.col("e.embedding")) != 0
    ).otherwise(F.col("e.embedding") != F.col("ref_emb"))
    n_bad = scored.filter(bad).count()
    return (
        scored.select(
            "doc_id",
            F.col("e.attempts").alias("attempts"),
            F.size("e.embedding").alias("emb_len"),
            "is_fatal",
            F.lit(n_bad).cast("long").alias("http_diff_rows"),
        )
        .orderBy("doc_id")
    )

@query("sse_http_roundtrip")
def sse_http_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HTTP/SSE serving layer, driver-visible over REAL sockets (r10
    — SURVEY §7.4 item 3, VERDICT r9 "missing" #3): the probe stream is
    kNN-joined per micro-batch, executors POST the ordered event rows to
    the loopback SSE gateway (streaming/serve.sse_http_server), and a
    ``text/event-stream`` CLIENT reads each user's frames back —
    create -> createLink -> addMessage per hit in relevance order, done
    frame terminating the stream (SSEOpenAIController.java:96-133 made
    literal).

    Witness column ``batch_diff_rows``: symmetric bag difference between
    what the SSE client READ (user, position, payload) and the batch
    serving path's own ordered projection (batch_search -> sse_events,
    sorted by the push contract's (rank, id, seq)) — 0 iff the gateway
    delivered exactly the batch answer, in order, over HTTP."""
    from .. import pipeline as P
    from ..streaming import serve as SV

    chunks = _ingested_chunks(spark, sf_dir)
    probes = [
        ("alice", "spark shuffle join vector search"),
        ("bob", "embedding distance metric"),
    ]
    server, url = SV.sse_http_server(drain_timeout_s=1.0)
    tmp = _gallery_scratch("sse_http_")
    try:
        spark.createDataFrame(
            probes, "user_id string, query_text string"
        ).write.parquet(f"{tmp}/src")
        ps = spark.readStream.schema(
            "user_id string, query_text string"
        ).parquet(f"{tmp}/src")
        SV.serve_push_stream(
            ps, chunks, SV.http_push_sink_factory(url),
            checkpoint=f"{tmp}/ckpt", k=3,
        ).awaitTermination()
        rows = []
        for u, _ in probes:
            for i, payload in enumerate(SV.read_sse_events(url, u)):
                rows.append((u, i, payload))
    finally:
        server.shutdown()
    got = spark.createDataFrame(
        rows, "userId string, ord int, event_json string"
    )
    hits = SV.batch_search(
        spark.createDataFrame(probes, "user_id string, query_text string"),
        chunks,
        k=3,
    )
    twin = P.sse_events(hits, user_col="user_id")
    w = Window.partitionBy("userId").orderBy("rank", "id", "seq")
    twin_ord = twin.select(
        "userId",
        (F.row_number().over(w) - 1).cast("int").alias("ord"),
        "event_json",
    )
    diff = _bag_diff_count(got, twin_ord, ["userId", "ord", "event_json"])
    return (
        got.withColumn("batch_diff_rows", F.lit(diff).cast("long"))
        .orderBy("userId", "ord")
    )

@query("blob_event_ingest")
def blob_event_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blob-trigger connector, driver-visible (r10 — SURVEY §7.4
    item 1, VERDICT r9 "missing" #1): ingest driven by Event-Grid-shaped
    BlobCreated notifications (streaming/blobevents.py) instead of a
    directory listing — events stream in, the ``.pdf`` suffix gate runs
    on the SUBJECT before any fetch, blob bytes are fetched executor-side
    (the storage-SDK seam), and a missing blob is isolated into the
    fetch-failure log without failing the batch.

    Witness columns: ``batch_diff_rows`` — bag difference between the
    event-driven chunks (fileName, pageNumber, origntext) and the direct
    binary-scan ingest of the same blob store (0 iff the two trigger
    mechanisms produce identical rows); ``fetch_failed_rows`` — count of
    isolated fetch failures (exactly 1, the planted ghost event)."""
    import os as _os

    from ..sources import minipdf as MP
    from ..streaming import blobevents as BE
    from ..streaming import ingest as IG

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 6)
        .select("doc_id", "text")
        .collect()
    )
    tmp = _gallery_scratch("blobev_")
    blobs = f"{tmp}/blobs"
    _os.makedirs(blobs)
    # three 2-page PDFs from fixture texts + one non-PDF
    for i in range(3):
        with open(f"{blobs}/doc{i}.pdf", "wb") as fh:
            fh.write(
                MP.make_pdf([docs[2 * i]["text"], docs[2 * i + 1]["text"]])
            )
    with open(f"{blobs}/note.txt", "wb") as fh:
        fh.write(b"not a pdf")
    events_dir = f"{tmp}/events"
    _os.makedirs(events_dir)
    import json as _json

    evs = [BE.make_blob_created_event("pdf", f"doc{i}.pdf") for i in range(3)]
    evs.append(BE.make_blob_created_event("pdf", "note.txt"))
    evs.append(BE.make_blob_created_event("pdf", "ghost.pdf"))
    with open(f"{events_dir}/batch1.json", "w") as fh:
        for e in evs:
            fh.write(_json.dumps(e) + "\n")
    chunks_out, status_out = f"{tmp}/chunks", f"{tmp}/status"
    BE.blob_event_stream(
        spark, events_dir, blobs, chunks_out, status_out, f"{tmp}/ckpt"
    ).awaitTermination()

    got = spark.read.parquet(chunks_out).select(
        "fileName", "pageNumber", "origntext"
    )
    twin_chunks, _ = IG.ingest_batch(spark, blobs)
    twin = twin_chunks.select(
        F.element_at(F.split("fileName", "/"), -1).alias("fileName"),
        "pageNumber",
        "origntext",
    )
    diff = _bag_diff_count(got, twin, ["fileName", "pageNumber", "origntext"])
    # The failure log is written only when a batch actually had failures;
    # if the planted ghost event is ever removed (or its fetch somehow
    # succeeds) the witness must degrade to a readable 0, not an
    # AnalysisException on the absent path (ADVICE r10).
    if _os.path.isdir(status_out + "_fetch_failures"):
        n_failed = spark.read.parquet(status_out + "_fetch_failures").count()
    else:
        n_failed = 0
    return (
        got.select(
            "fileName",
            "pageNumber",
            F.length("origntext").cast("long").alias("chunk_len"),
            F.lit(diff).cast("long").alias("batch_diff_rows"),
            F.lit(n_failed).cast("long").alias("fetch_failed_rows"),
        )
        .orderBy("fileName", "pageNumber", "chunk_len")
    )

@query("summarize_hits")
def summarize_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's per-hit summarization fan-out (SURVEY.md §2A row 29):
    flagship top-5 -> prompt template -> enrichment UDF (deterministic
    extractive stand-in; production swaps a vendor-API pandas UDF).
    UDF-dependent -> rows-only.

    r12 witness (VERDICT r11 #3): ``ref_diff_rows`` — the 5 output rows
    are recomputed IN PURE DRIVER PYTHON from the collected hits (the
    prompt template's %-format and the extractive summarizer's
    sentence-split/head rule, no Spark expressions, no pandas UDF) and
    disagreeing rows counted; constant 0 = the executor-side
    format_string + pandas-UDF fan-out reproduces outside the engine —
    the multimodal_image_pipeline ``ref_diff_rows`` convention."""
    import re as _re

    from .. import pipeline as P

    question = "what is this document about?"
    hits = P.search(
        _ingested_chunks(spark, sf_dir), "spark shuffle join vector search", k=5
    ).localCheckpoint(eager=True)  # one kNN pass feeds output + witness
    out = P.summaries(hits, question).select(
        "id", "fileName", "pageNumber", "prompt", "summary"
    )
    got = {
        (r["id"], r["prompt"], r["summary"])
        for r in out.select("id", "prompt", "summary").collect()
    }
    want = set()
    for r in hits.collect():  # bounded: k=5 rows
        text = r["origntext"] or ""
        prompt = (
            '""" %s """ \n\nPlease answer the question using the above'
            ' text: "%s"' % (text, question)
        )
        sents = [
            s.strip()
            for s in _re.split(r"(?<=[.。!！?？;；])\s*", text)
            if s.strip()
        ]
        head = " ".join(sents[:2]) if sents else text
        want.add((r["id"], prompt, f"[re: {question}] {head}"))
    ref_diff = len(got - want) + len(want - got)
    return out.withColumn("ref_diff_rows", F.lit(ref_diff).cast("long"))

@query("sse_event_projection")
def sse_event_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-side SSE projection (SURVEY.md §2A rows 24-28): flagship
    top-5 hits expanded to ordered create/createLink/addMessage JSON events
    per hit.  Depends on the embed UDF -> rows-only.

    r12 witness (VERDICT r11 #3): ``ref_diff_rows`` — all 15 event rows
    are rebuilt IN PURE DRIVER PYTHON from the collected hits with plain
    ``str.replace`` (the Gson-style ``\\``/``\"`` escaping, the
    ``<SPECIAL_WHITE_SPACE>`` substitution, the ``#page=`` link — the
    byte recipes of SSEOpenAIController.java:186-239 restated outside
    Spark) and bag-diffed against the engine's concat-built JSON;
    constant 0 = the serving projection's bytes reproduce out-of-engine,
    complementing the oracle-checked ``sse_projection_sql`` twin which
    pins the same recipes over a fixed 5-doc stand-in."""
    from .. import pipeline as P

    hits = P.search(
        _ingested_chunks(spark, sf_dir), "spark shuffle join vector search", k=5
    ).localCheckpoint(eager=True)  # one kNN pass feeds output + witness
    out = P.sse_events(hits, user_id="driver")

    def _esc(s: str) -> str:  # pipeline.json_escape, in pure Python
        return s.replace("\\", "\\\\").replace('"', '\\"')

    want = set()
    for r in hits.collect():  # bounded: k=5 rows -> 15 events
        fname = _esc(r["fileName"])
        page = str(r["pageNumber"])
        link = "https://storage.example/pdfs/" + fname + "#page=" + page
        content = _esc(
            (r["origntext"] or "").replace(" ", "<SPECIAL_WHITE_SPACE>")
        )
        hid = r["id"]
        want.add(("driver", hid, 0, '{"type":"create","id":"' + hid + '"}'))
        want.add(
            (
                "driver", hid, 1,
                '{"type":"createLink","id":"' + hid + '","link":"' + link
                + '","pageNumber":' + page + ',"fileName":"' + fname + '"}',
            )
        )
        want.add(
            (
                "driver", hid, 2,
                '{"type":"addMessage","id":"' + hid + '","content":"'
                + content + '"}',
            )
        )
    got = {
        (r["userId"], r["id"], r["seq"], r["event_json"])
        for r in out.collect()
    }
    ref_diff = len(got - want) + len(want - got)
    return out.withColumn("ref_diff_rows", F.lit(ref_diff).cast("long"))

@query(
    "status_listings",
    """
SELECT sha256(concat(source, '|', CAST(CAST(doc_id AS INTEGER) AS VARCHAR),
              '|', '0')) AS id,
       source AS fileName,
       CAST(doc_id AS INTEGER) AS pageNumber,
       'COMPLETED' AS status,
       'registered' AS listing
FROM documents
ORDER BY fileName, pageNumber
""",
)
def status_listings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4/Q5 listings over the pipeline-generated status event log
    (SURVEY.md §2C): current-status view + eq/neq filters + composite sort.

    Oracle-checked END-TO-END: every fixture document is non-null and
    shorter than the 7,500-char chunk limit, so the whole ingest is
    SQL-reproducible — exactly one chunk per page (chunkIdx 0), the
    deterministic ``sha2(fileName|pageNumber|chunkIdx)`` id, the status
    machine terminating at COMPLETED, and an empty failed listing.  The
    oracle pins all of that; a fixture refresh with >7,500-char docs would
    surface as a row-count mismatch (the signal, not an accident)."""
    from .. import pipeline as P

    docs = load_table(spark, sf_dir, "documents")
    _, status = P.ingest_documents(docs)
    reg = P.status_registered(status).withColumn("listing", F.lit("registered"))
    failed = P.status_failed(status).withColumn("listing", F.lit("failed"))
    return reg.unionByName(failed)

@query("ivf_ann_search")
def ivf_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN via the IVF index (SURVEY.md §2B B3) — opt-in scale
    path; results are approximate so there is deliberately no SQL oracle.
    r10: the recall evidence is driver-visible, not just test-pinned —
    every row carries ``exact_top5_hits``, the overlap between this
    search's top-5 and the exact brute-force kNN's top-5 on the same
    probe (5 = perfect recall at the fixture; tests pin the CI floor)."""
    from ..operators import knn as KN
    from ..operators.ann import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    items = emb.filter(F.col("vec_id") != 0)
    idx = IVFIndex(items, k_clusters=8)
    approx = idx.search(probe, k=5, nprobe=3).select(
        "vec_id", "label", F.round("dist", 4).alias("dist")
    ).localCheckpoint(eager=True)
    exact_ids = {
        r["vec_id"]
        for r in KN.knn(items, probe, k=5, tie_cols=("vec_id",)).collect()
    }
    hits = sum(
        1 for r in approx.select("vec_id").collect()
        if r["vec_id"] in exact_ids
    )
    return approx.withColumn(
        "exact_top5_hits", F.lit(hits).cast("int")
    )

@query("chunk_explode")
def chunk_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference chunker (Function.java:214-251) at max_len=120 so the
    fixture docs actually split; exact semantics pinned by unit tests
    (tests/test_text.py).  Not SQL-expressible (imperative backward scan)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(
            X.chunk_udf(max_len=120, floor_delta=20)(X.normalize_text("text"))
        ).alias("chunk_idx", "chunk_text"),
    ).orderBy("doc_id", "chunk_idx")

@query("flagship_rag_search")
def flagship_rag_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference pipeline (ingest -> embed -> kNN search):
    documents -> normalize/chunk (reference 7500/300 parameters) ->
    deterministic embeddings -> exact L2 top-5 for a fixed query
    (SURVEY.md §3.1-3.2).  Embeddings come from a pandas UDF — not
    SQL-expressible.

    r11 witness (VERDICT r10 #3): this is the ``entry()`` showcase and
    every constituent is verified, but the composed row carried no
    self-check — now each row carries ``alt_path_top5_hits``, the
    overlap between these hits and an INDEPENDENT kNN execution over
    the same cached chunks: ``knn_join`` with a one-row probe frame,
    whose bounded top-k scores in float64 BLAS inside ``mapInPandas`` —
    a different plan and different arithmetic from the native-expression
    TakeOrderedAndProject that produced the hits, oracle-checked on its
    own by ``knn_join_l2`` (equality of the two paths is pinned in
    tests/test_knn.py::test_knn_join_matches_native_knn).  Constant
    5 = the composed pipeline's top-5 reproduces through the alternate
    scorer; driver-visible at every sf."""
    from .. import pipeline as P
    from ..functions import embed as E2
    from ..operators import knn as KN

    chunks = _ingested_chunks(spark, sf_dir)
    hits = P.search(chunks, "spark shuffle join vector search", k=5)
    probe = spark.createDataFrame(
        [(0, E2.hash_embed_py("spark shuffle join vector search"))],
        "probe_id int, embedding array<float>",
    )
    alt_ids = {
        r["item_id"]
        for r in KN.knn_join(probe, chunks, k=5, item_id="id")
        .select("item_id")
        .collect()
    }
    hit_ids = [r["id"] for r in hits.select("id").collect()]
    overlap = sum(1 for h in hit_ids if h in alt_ids)
    return hits.withColumn(
        "alt_path_top5_hits", F.lit(overlap).cast("int")
    )

@query("embed_retry_pipeline")
def embed_retry_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-embedder seam exercised end-to-end (VERDICT r01): a
    mock-transport pandas UDF with the reference's <=3-attempt retry /
    backoff / empty-on-final-failure loop (Function.java:48,181-210,
    262-269).  Failure markers are planted deterministically: docs with
    ``doc_id % 13 == 0`` fail terminally (-> empty embedding -> dimension
    invariant fails -> FAILED_DB_INSERTION), ``doc_id % 11 == 0`` fail
    twice then succeed (-> two RETRY_OAI_INVOCATION events -> COMPLETED).
    Returns the status-event histogram.  Mock transport -> rows-only;
    exact per-row semantics pinned in tests/test_pipeline.py."""
    from .. import pipeline as P

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 13 == 0, F.lit(" <<FATAL>>"))
            .when(F.col("doc_id") % 11 == 0, F.lit(" <<TRANSIENT>>"))
            .otherwise(F.lit("")),
        ),
    )
    embedder = E.retrying_embedder(E.flaky_transport(), max_attempts=3)
    _, status = P.ingest_documents(docs, embedder=embedder)
    return (
        status.groupBy("status")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("status")
    )

@query("embedding_near_dup_lsh")
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for the embedding-cosine range join (VERDICT r01):
    the exact ``embedding_near_dup`` is an O(|L| x |R|) scorer; this variant
    normalizes each vector once and runs the bucketed random-projection LSH
    join (operators/ann.lsh_similarity_join) so only same-bucket candidates
    are ever scored.  On unit vectors cosine distance = squared-L2 / 2, so
    the cosine cutoff 0.6 maps to L2 threshold sqrt(1.2).  Approximate ->
    rows-only; recall vs the exact sibling asserted in tests/test_ann.py."""
    from ..operators.ann import lsh_similarity_join

    emb = load_table(spark, sf_dir, "embeddings")

    def unit(df, out_id):
        return (
            df.withColumn("__n", V.l2_norm("embedding"))
            .select(
                F.col("vec_id").alias(out_id),
                F.transform(
                    "embedding", lambda x: x.cast("double") / F.col("__n")
                ).alias("embedding"),
            )
        )

    pairs = lsh_similarity_join(
        unit(emb, "left_id"),
        unit(emb, "right_id"),
        threshold=float(1.2) ** 0.5,
        vec_col="embedding",
        num_hash_tables=5,
    )
    cos_dist = F.col("dist") * F.col("dist") / 2
    lsh = (
        pairs.filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", F.round(cos_dist, 4).alias("cos_dist"))
        .localCheckpoint(eager=True)
    )
    # r10: driver-visible recall witness — the pairs the bucketing missed
    # (and, provably 0, any extra pairs: candidates are exact-verified)
    # against the exact quadratic sibling.  The CI floor lives in
    # tests/test_ann.py; the driver row now shows the actual gap.
    exact = QUERIES["embedding_near_dup"](spark, sf_dir).select(
        "left_id", "right_id"
    )
    keys = ["left_id", "right_id"]
    missed = exact.join(lsh, keys, "left_anti").count()
    extra = lsh.join(exact, keys, "left_anti").count()
    return (
        lsh.withColumn("missed_pairs", F.lit(missed).cast("long"))
        .withColumn("extra_pairs", F.lit(extra).cast("long"))
        .orderBy("left_id", "right_id")
    )

@query("minhash_lsh_pairs")
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, verified by exact Jaccard
    (SURVEY.md §2B B5).  Banding uses xxhash64 — no DuckDB twin; the exact
    jaccard_similar_pairs query is the oracle-checked sibling."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.5
    ).orderBy("id_a", "id_b")

# SimHash oracle: per-bit majority votes stated directly in SQL.  The
# shingle hash is md5_number_upper (little-endian first 8 md5 bytes) — the
# exact convention the UDF uses — and the signed 64-bit value is assembled
# with bit 63 contributing -2^63 (two's complement, no overflowing cast).
_SIMHASH_VOTES = ",\n    ".join(
    f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(64)
)

_SIMHASH_VALUE = " + ".join(
    [f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
     for b in range(63)]
    + ["CASE WHEN v63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END"]
)

_SIMHASH_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks),
h AS (SELECT doc_id, md5_number_upper(unnest(shingles)) AS hv FROM sh),
votes AS (
  SELECT doc_id,
    {_SIMHASH_VOTES}
  FROM h GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce({_SIMHASH_VALUE}, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id
ORDER BY d.doc_id
"""

@query("simhash_fingerprints", _SIMHASH_ORACLE)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (near-dup signature, SURVEY.md §2B B5).
    Oracle-checked since r02: the SQL twin restates the 64 per-bit majority
    votes over md5_number_upper shingle hashes — exact integers, so the
    hash compare is bit-for-bit."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", D.simhash64("text", n=3).alias("simhash")
    ).orderBy("doc_id")

# MinHash-mechanism oracle: the md5 hash family (md5_number_upper of
# shingle || chr(31) || family-index, unsigned min, two's-complement
# BIGINT) is restated directly in SQL — the exact convention
# minhash_signature_md5 computes, so the compare is bit-for-bit.  Docs
# with fewer than n tokens have no shingles and emit no rows (both
# engines drop them: posexplode of an empty array / the len(shingles)>0
# filter).
_MINHASH_MD5_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks
  WHERE len(t) >= 3),
fam AS (SELECT doc_id, shingles, unnest(range(0, 16)) AS hash_idx FROM sh),
mins AS (
  SELECT doc_id, hash_idx,
         list_min(list_transform(shingles,
                  g -> md5_number_upper(g || chr(31) || CAST(hash_idx AS VARCHAR)))) AS mn
  FROM fam)
SELECT doc_id, CAST(hash_idx AS INT) AS hash_idx,
       CAST(CAST(mn AS HUGEINT)
            - CASE WHEN mn >= CAST('9223372036854775808' AS HUGEINT)
                   THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END
            AS BIGINT) AS sig
FROM mins
ORDER BY doc_id, hash_idx
"""

@query("minhash_sigs_md5", _MINHASH_MD5_ORACLE)
def minhash_sigs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with the md5-derived hash family (SURVEY.md §2B
    B5) — the minhash MECHANISM's first oracle-backed row.  The production
    near-dup path (``minhash_lsh_pairs``) stays on xxhash64, which no SQL
    engine reproduces; this twin swaps ONLY the hash family for DuckDB's
    ``md5_number_upper`` (the simhash_fingerprints convention) so the
    min-over-family fold is verified bit-for-bit.  Exploded to one row per
    (doc, family index) — exact integers, no float canon needed."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                D.minhash_signature_md5("text", n=3, num_hashes=16)
            ).alias("hash_idx", "sig"),
        )
        .orderBy("doc_id", "hash_idx")
    )

@query(
    "embedding_near_dup",
    f"""
WITH n AS (
  SELECT vec_id, embedding,
         {_SQL_NORM.format(a="embedding")} AS nrm
  FROM embeddings),
scored AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         1 - list_sum(list_transform(range(1, len(a.embedding)+1),
               i -> (CAST(a.embedding[i] AS DOUBLE) / a.nrm)
                    * (CAST(b.embedding[i] AS DOUBLE) / b.nrm))) AS d
  FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT left_id, right_id, round(d, 4) AS cos_dist
FROM scored WHERE d < 0.6
ORDER BY left_id, right_id
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the similarity (range) join.
    Self-join of the embeddings table under cosine distance < 0.6.  The
    oracle mirrors the engine's cosine fast path exactly — normalize each
    element, then one left-to-right dot — NOT the algebraically-equal
    dot/(norm*norm) form, which rounds differently in the last ulp and
    could flip a pair sitting on the threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # self-join: size BOTH dispatch sides with one action
    left = emb.select(F.col("vec_id").alias("left_id"), "embedding")
    right = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    pairs = K.similarity_join(
        left,
        right,
        threshold=0.6,  # fixture cosine distances: min≈0.49, p01≈0.71
        metric="cosine",
        left_id="left_id",
        right_id="right_id",
        sizes=(n, n),
    )
    return (
        pairs.filter(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id", "right_id", F.round("dist", 4).alias("cos_dist")
        )
        .orderBy("left_id", "right_id")
    )

@query(
    "corpus_curation_pipeline",
    r"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS toks
  FROM documents),
gated AS (
  SELECT doc_id, lang, text, toks, CAST(len(toks) AS BIGINT) AS n_tokens
  FROM t
  WHERE lang IN ('en', 'de', 'fr') AND len(toks) >= 25),
keep AS (
  SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS exact_dups
  FROM gated
  GROUP BY regexp_replace(replace(text, chr(10), ' '), '\s{2,}', ' ', 'g')),
kept AS (
  SELECT g.doc_id, g.lang, g.n_tokens, g.toks, k.exact_dups
  FROM gated g JOIN keep k USING (doc_id)),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM kept),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
elig AS (SELECT e.doc_id, e.s FROM ex e JOIN dfreq d ON e.s = d.s
         WHERE d.df <= 5),
na AS (SELECT doc_id, count(*) AS n_sh FROM elig GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM elig a JOIN elig b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN na x ON c.id_a = x.doc_id
  JOIN na y ON c.id_b = y.doc_id
  WHERE CAST(c.inter AS DOUBLE) / (x.n_sh + y.n_sh - c.inter) >= 0.8),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
dropped AS (
  SELECT a AS node FROM reach GROUP BY a HAVING least(a, min(b)) <> a)
SELECT k.doc_id, k.lang, k.n_tokens, k.exact_dups
FROM kept k LEFT JOIN dropped d ON k.doc_id = d.node
WHERE d.node IS NULL
ORDER BY k.doc_id
""",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation (brief training-data ops; the
    composition a C4/RefinedWeb-style pipeline runs): language gate ->
    quality gate (token count) -> exact dedup keep-min-id -> near-dup
    dedup (df-capped exact Jaccard >= 0.8 -> O(log n) star-contraction
    components -> drop non-representatives) -> curated docs with token
    accounting.

    Every stage keeps its 100 TB shape: the gates are pure scan
    predicates (pushed to parquet); exact dedup shuffles an 8-byte
    fingerprint key, never text; the near-dup candidate step is the
    df-capped group-then-pair Jaccard (one hot shingle cannot bomb a
    reducer — operators/dedup.py); components contract in O(log n)
    rounds; the final anti-join broadcasts only the dropped-id list
    (near-dup survivors' complement is small by construction).  The
    oracle restates the same pipeline over the recursive-CTE closure.

    The composition lives in ``operators.dedup.curate_corpus`` (also run
    by scripts/scale_probe.py at 300k synthetic docs, and available with
    ``use_minhash=True`` for the banded 100 TB form)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.curate_corpus(
            docs,
            "text",
            "doc_id",
            "lang",
            langs=("en", "de", "fr"),
            min_tokens=25,
            jaccard_threshold=0.8,
            max_df=5,
        )
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )

@query(
    "weighted_sample_topk",
    r"""
WITH t AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> ''))
         AS BIGINT) AS n_tokens,
    (((doc_id % 1000003) * 2654435761
      + (doc_id // 1000003) * 97) % 4294967296) AS bucket
  FROM documents),
k AS (
  SELECT doc_id, n_tokens,
         ln((bucket + 1) / 4294967297.0) / n_tokens AS key
  FROM t)
SELECT doc_id, n_tokens, round(key, 6) AS sample_key
FROM k ORDER BY key DESC, doc_id LIMIT 20
""",
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    "Weighted random sampling with a reservoir", IPL 2006): each doc gets
    key ``u^(1/w)`` — equivalently ordered by ``ln(u)/w`` — and the top-k
    keys ARE a weighted sample without replacement.  Weight = token count
    (training-data pipelines sample long/high-quality docs more often).

    The 100 TB shape: ``u`` derives from the same engine-neutral
    multiplicative key-hash as ``deterministic_sample_per_lang`` (any
    worker decides membership from the key alone — reproducible,
    coordination-free, no RNG state), and top-k-by-key compiles to
    ``TakeOrderedAndProject``: each partition keeps k rows, no global
    sort, no shuffle beyond the k-row driver merge — a single pass
    whatever the corpus size.  ``ln`` on identical doubles agrees across
    engines within 1 ulp (both are correctly-rounded-or-1ulp libm calls
    on the same IEEE input; ordering gaps between hash-derived keys are
    >> 1 ulp), and the emitted key is rounded to 6 decimals."""
    docs = load_table(spark, sf_dir, "documents")
    lo = F.col("doc_id") % F.lit(1000003)
    hi = F.expr("doc_id div 1000003")
    bucket = (
        (lo * F.lit(2654435761) + hi * F.lit(97)) % F.lit(4294967296)
    )
    u = (bucket + F.lit(1)) / F.lit(4294967297.0)
    n_tokens = F.size(X.word_tokens("text")).cast("long")
    key = F.log(u) / n_tokens
    return (
        docs.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            key.alias("__key"),
        )
        .orderBy(F.col("__key").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id", "n_tokens", F.round("__key", 6).alias("sample_key")
        )
    )

@query("streaming_neardup_matches")
def streaming_neardup_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection (streaming/neardup.py) driven over
    the documents fixture as two arrival batches: the first half of the
    corpus is registered, then the second half arrives and each new doc is
    checked against the persisted band store (plus within-batch).  Returns
    the verified matches ``(new_id, matched_id, jaccard)`` plus a
    constant ``batch_diff_rows`` column: the symmetric bag difference
    between the incremental pair set and the batch operator's
    ``minhash_lsh_pairs`` answer on the union corpus (directions
    normalized to (later, earlier)) — 0 iff stream == batch, the pytest
    pin made driver-visible (VERDICT r7 next-round #5).  foreachBatch
    state-table pattern -> rows-only."""
    from ..streaming import neardup as ND

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    tmp = _gallery_scratch("neardup_q_")
    band_d, sh_d, m_d = f"{tmp}/bands", f"{tmp}/shingles", f"{tmp}/matches"
    ND.detect_and_register(
        docs.filter(F.col("doc_id") <= mid), band_d, sh_d, m_d,
        threshold=0.8,
    )
    ND.detect_and_register(
        docs.filter(F.col("doc_id") > mid), band_d, sh_d, m_d,
        threshold=0.8,
    )
    stream = _lazy_parquet_or_empty(
        spark, m_d, "new_id bigint, matched_id bigint, jaccard double"
    )
    twin = D.minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.8
    ).select(
        F.greatest("id_a", "id_b").alias("new_id"),
        F.least("id_a", "id_b").alias("matched_id"),
    )
    diff = _bag_diff_count(stream, twin, ["new_id", "matched_id"])
    return (
        stream.withColumn(
            "batch_diff_rows", F.lit(int(diff)).cast("long")
        )
        .orderBy("new_id", "matched_id")
    )


def _drained_curation_store(
    spark: SparkSession, sf_dir: str, prefix: str, stream, **kwargs
):
    """The curation maintenance witnesses' run: the fixture documents as
    three arrival FILES (~thirds by id — a deterministic arrival order),
    drained by ``stream`` with maxFilesPerTrigger=1 (three micro-batches)
    into a fresh store.  Returns the documents and the store root.  The
    file stream source lists src/ flat, so each slice's single part file
    is staged then moved in as batch<i>.parquet."""
    import os as _os

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tmp = _gallery_scratch(prefix)
    src = f"{tmp}/src"
    _os.makedirs(src)
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    c1 = lo + (hi - lo) // 3
    c2 = lo + 2 * (hi - lo) // 3
    slices = [
        docs.filter(F.col("doc_id") <= c1),
        docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)),
        docs.filter(F.col("doc_id") > c2),
    ]
    for i, sl in enumerate(slices):
        stage = f"{tmp}/stage{i}"
        sl.coalesce(1).write.parquet(stage)
        part = next(
            f for f in _os.listdir(stage) if f.endswith(".parquet")
        )
        _os.rename(f"{stage}/{part}", f"{src}/batch{i}.parquet")
    stream(
        spark, src, "doc_id long, lang string, text string",
        f"{tmp}/store", f"{tmp}/ckpt", max_files_per_trigger=1, **kwargs,
    ).awaitTermination()
    return docs, f"{tmp}/store"


@query("streaming_curation_maintenance")
def streaming_curation_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation maintenance (streaming/curation.py — VERDICT
    r10 next-round #7): the batch curation pipeline's gate / exact-dedup
    / near-dup stages maintained per ARRIVAL batch through the real
    Structured Streaming path (three source files, maxFilesPerTrigger=1
    -> three micro-batches into fresh fingerprint/band/shingle/matches
    stores), then the accepted-survivor view derived from the stores.
    Witness: ``batch_diff_rows`` — symmetric bag difference between the
    survivor view and ``curate_corpus(use_minhash=True, max_df=None)``
    over the same corpus in one batch (0 iff the incremental composition
    converged to the batch pipeline's output).  foreachBatch state-table
    pattern -> rows-only."""
    from ..operators import dedup as DD
    from ..streaming import curation as SC

    docs, store = _drained_curation_store(
        spark, sf_dir, "curstream_q_", SC.curation_maintenance_stream
    )
    surv = SC.curation_survivors(spark, store).localCheckpoint(eager=True)
    twin = DD.curate_corpus(docs, use_minhash=True, max_df=None)
    diff = _bag_diff_count(
        surv, twin, ["id", "lang", "n_tokens", "exact_dups"]
    )
    return (
        surv.withColumn("batch_diff_rows", F.lit(int(diff)).cast("long"))
        .orderBy("id")
    )


@query("streaming_curation_v2_maintenance")
def streaming_curation_v2_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental V2 curation maintenance (streaming/curation.py — r12,
    VERDICT r11 #1): the COMPOSED v2 pipeline's corpus-stat stages
    maintained per arrival batch through the real Structured Streaming
    path.  Three micro-batches (maxFilesPerTrigger=1) append the pure
    per-doc partials at arrival — Gopher-gated fingerprints, per-doc
    token counts + per-epoch LM partial sums, per-doc DSIR
    feature-bucket counts, MinHash band/shingle/matches stores — then
    the survivor+selection view recomposes terciles / exact dedup /
    pair graph / leakage-safe split / near-dup drop / DSIR top-k from
    the stores WITHOUT re-tokenizing the corpus.  Witness:
    ``batch_diff_rows`` — symmetric bag difference on ALL 13 output
    columns vs ``curate_corpus_v2(min_stops=0, use_minhash=True,
    max_df=None)`` over the same corpus in one batch (0 iff the
    incremental composition converged bit-for-bit).  foreachBatch
    state-table pattern -> rows-only."""
    from ..operators import dedup as DD
    from ..streaming import curation as SC

    docs, store = _drained_curation_store(
        spark, sf_dir, "curstream2_q_", SC.curation_v2_maintenance_stream,
        min_stops=0,
    )
    surv = SC.curation_v2_survivors(spark, store).localCheckpoint(
        eager=True
    )
    twin = DD.curate_corpus_v2(
        docs, min_stops=0, use_minhash=True, max_df=None
    ).withColumnRenamed("doc_id", "id")
    diff = _bag_diff_count(surv, twin, list(DD.CURATION_V2_COLUMNS))
    return (
        surv.withColumn("batch_diff_rows", F.lit(int(diff)).cast("long"))
        .orderBy("id")
    )


@query("approx_aggregates_gallery")
def approx_aggregates_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate aggregation beside its exact twin (the
    100 TB path for distinct counts and quantiles): per order-status,
    HyperLogLog++ distinct customers (``approx_count_distinct``), an
    Apache-DataSketches HLL built with ``hll_sketch_agg`` — the MERGEABLE
    form: partitions pre-aggregate sketch bytes that union associatively,
    so an incremental pipeline can keep per-day sketches and merge on
    read — and KLL-style ``approx_percentile`` for the price median.

    Exact values ride along for self-documenting error; tests assert the
    relative error bounds (HLL default rsd 5%; percentile accuracy
    parameter 10k).  Sketches are engine-specific bytes -> rows-only."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("exact_distinct"),
            F.approx_count_distinct("o_custkey").alias("hll_distinct"),
            F.expr(
                "hll_sketch_estimate(hll_sketch_agg(o_custkey))"
            ).cast("long").alias("sketch_distinct"),
            F.percentile("o_totalprice", 0.5).alias("exact_p50"),
            F.expr(
                "approx_percentile(o_totalprice, 0.5, 10000)"
            ).alias("approx_p50"),
        )
        .orderBy("o_orderstatus")
    )

@query("ann_recall_report")
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-quality measurement as a first-class operator: every
    approximate retrieval path — IVF ``search_many`` (nprobe cluster
    pruning), SQ8 scalar quantization (4x compression, asymmetric
    distance over dequantized codes), and PQ product quantization (32x
    compression, ADC lookup-table scan) — evaluated against the exact
    bounded kNN join over the same 32 probes.  Returns per-(method,
    probe) recall@5 plus each method's corpus mean in the probe_id = -1
    row.  k-means is seeded -> deterministic per fixture, but sketch
    geometry is engine-specific -> rows-only; the measure-don't-guess
    discipline (BASELINE.md) as a driver query."""
    from ..operators import ann as A
    from ..operators import quant as Qz

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    items = emb.select(F.col("vec_id").alias("item_id"), "embedding")
    exact = K.knn_join(probes, items, k=5).select(
        F.col("probe_id"), F.col("item_id")
    )

    idx = A.IVFIndex(emb, k_clusters=8)
    sq8 = Qz.SQ8(emb)
    dec_items = sq8.encode(emb).select(
        F.col("vec_id").alias("item_id"),
        sq8.dequant_expr("code").alias("embedding"),
    )
    pq = Qz.PQCodebook(emb, m=8, codes=64, iters=8)
    pq_enc = pq.encode(emb)
    pq_shortlist = pq.search_many(pq_enc, probes, k=50)
    approx_by_method = {
        "ivf": idx.search_many(probes, k=5, nprobe=2),
        "sq8": K.knn_join(probes, dec_items, k=5),
        "pq": pq.search_many(pq_enc, probes, k=5).withColumnRenamed(
            "vec_id", "item_id"
        ),
        # The production PQ shape: ADC shortlist -> exact re-rank.
        "pq_refine": Qz.PQCodebook.refine(
            pq_shortlist, emb, probes, k=5
        ).withColumnRenamed("vec_id", "item_id"),
        # The full 100 TB composition: cluster pruning + residual PQ +
        # exact refine (IVFADC+R).
        "ivfpq": Qz.PQCodebook.refine(
            Qz.IVFPQIndex(emb, k_clusters=8, m=8, codes=64).search_many(
                probes, shortlist=50, nprobe=2
            ),
            emb,
            probes,
            k=5,
        ).withColumnRenamed("vec_id", "item_id"),
    }

    # SQ8 at the reference's REAL dimensionality (1536-d,
    # text-embedding-ada-002 — README.md): the fixture embeddings are
    # low-dim, so synthesize a small deterministic 1536-d clustered table
    # in-query and report the same recall@5 row for it (method
    # "sq8_1536d").  Keeps the driver-visible report honest about the
    # dimensionality the reference actually stores; the full-scale
    # 1536-d latency probe lives in scripts/quant_probe.py.
    hi = A.synthetic_clustered_vectors(
        spark, 500, dim=1536, n_centers=16
    ).drop("center")
    hi_probes = hi.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    hi_items = hi.select(F.col("vec_id").alias("item_id"), "embedding")
    hi_sq8 = Qz.SQ8(hi, dim=1536)
    hi_dec = hi_sq8.dequantize(
        hi_sq8.encode(hi), "code", "__deq"
    ).select(
        F.col("vec_id").alias("item_id"), F.col("__deq").alias("embedding")
    )
    hi_exact = K.knn_join(hi_probes, hi_items, k=5).select(
        "probe_id", "item_id"
    )

    jobs = [(m, a, exact) for m, a in approx_by_method.items()]
    jobs.append(("sq8_1536d", K.knn_join(hi_probes, hi_dec, k=5), hi_exact))

    reports = []
    for method, approx, exact_df in jobs:
        hits = exact_df.join(
            approx.select("probe_id", "item_id"),
            ["probe_id", "item_id"],
            "left_semi",
        )
        per_probe = (
            exact_df.groupBy("probe_id")
            .agg(F.count("*").alias("n"))
            .join(
                hits.groupBy("probe_id").agg(F.count("*").alias("h")),
                "probe_id",
                "left",
            )
            .select(
                F.lit(method).alias("method"),
                F.col("probe_id").cast("long").alias("probe_id"),
                (F.coalesce("h", F.lit(0)) / F.col("n")).alias("recall_at_5"),
            )
        )
        mean = per_probe.agg(
            F.lit(method).alias("method"),
            F.lit(-1).cast("long").alias("probe_id"),
            F.avg("recall_at_5").alias("recall_at_5"),
        )
        reports.append(per_probe.unionByName(mean))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("method", "probe_id")
