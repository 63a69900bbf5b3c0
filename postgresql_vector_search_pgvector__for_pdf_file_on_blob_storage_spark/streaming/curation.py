"""Incremental corpus-curation maintenance — the batch curation pipeline
(operators/dedup.curate_corpus) as an ARRIVAL-batch composition of the
incremental state forms this package already ships (VERDICT r10
next-round #7): a real corpus ingests continuously, so gate / exact-dedup
/ near-dup state must be maintained per micro-batch, with the accepted
SURVIVOR set converging to what the batch pipeline computes over the
drained corpus.

Composition per micro-batch (all DataFrame algebra, ``foreachBatch``):

1. **Quality gate** — stateless scan predicates (language allow-list +
   token-count floor), exactly ``curate_corpus``'s gate.
2. **Fingerprint log** — one ``(fp, id, lang, n_tokens)`` row per gated
   doc appended to a parquet log (epoch-keyed overwrite, so a replayed
   micro-batch rewrites exactly its own rows — the neardup-store
   convention).  The log is append-only per batch; min-id-per-fp is a
   property of the SET, computed at read time, so arrival order cannot
   change the converged answer.
3. **Near-dup pair maintenance** — :func:`streaming.neardup.
   detect_and_register`: new docs band-probe the persistent band store,
   candidates exact-verify over the shingle store, verified pairs append
   to the matches log.  Candidate cost per batch tracks true near-dups
   (banding), never batch x corpus.

:func:`curation_survivors` derives the accepted-survivor view from the
three logs: min-id per fingerprint (exact_dups counted), star-contraction
components over the verified pairs RESTRICTED to the exact-dedup keepers,
drop non-representatives.  Why restriction gives batch-exact semantics:
``curate_corpus`` computes its pair graph over the exact-dedup SURVIVORS,
while the stream registers every gated doc — but a MinHash signature is a
per-document function, so a kept-kept pair bands together in the stream
iff it bands together in the batch operator, and the verify Jaccard is
the same full-shingle-set expression; pairs with a dropped-duplicate
endpoint are exactly the rows the restriction removes.  Hence
``curation_survivors`` == ``curate_corpus(use_minhash=True,
max_df=None)`` row-for-row after draining the same corpus — the
``streaming_curation_maintenance`` driver query carries that bag diff as
its ``batch_diff_rows`` witness, and tests/test_streaming.py pins it
across arrival orders and a multi-batch stream.

100 TB shape: per-batch work is (scan predicates + an 8-byte fingerprint
projection + the banded candidate join); every store is a parquet table
(restart-safe, no executor-memory state); the survivor view's only
corpus-sized fold is the min-per-fp aggregate over 8-byte keys.

**V2 maintenance (r12, VERDICT r11 #1)**: :func:`curation_v2_maintain_
batch` / :func:`curation_v2_survivors` extend the same architecture to
the COMPOSED v2 pipeline's corpus-stat stages — CCNet surprisal
terciles, leakage-safe split, DSIR selection.  The key observation: the
expensive per-document work (Gopher gate, tokenize, DSIR featurize+
hash, MinHash signatures) is all PURE per-doc and is paid once at
arrival into per-doc partial stores; the corpus-stat fits (unigram LM,
tercile cut points, DSIR bucket LMs) are sums/folds over those partials
and are recomposed at view time against whatever the current retroactive
population is (tercile membership moves as the LM grows; DSIR fits on
final survivors) — so the view is arrival-order independent and equals
``curate_corpus_v2(use_minhash=True, max_df=None, strip_spans=False)``
row-for-row on all 13 columns (pinned across arrival orders AND through
a streaming restart in tests/test_streaming.py; driver-visible via the
``streaming_curation_v2_maintenance`` gallery witness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as X
from ..operators import dedup as D
from ..utils import spread
from . import neardup as ND

__all__ = [
    "curation_gate",
    "curation_maintain_batch",
    "curation_maintenance_stream",
    "curation_survivors",
    "curation_v2_maintain_batch",
    "curation_v2_maintenance_stream",
    "curation_v2_survivors",
]


def curation_gate(
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    langs: tuple[str, ...] = ("en", "de", "fr"),
    min_tokens: int = 25,
) -> DataFrame:
    """The stateless gate — identical predicates to ``curate_corpus``'s
    first stage, normalized to ``(id, lang, text, n_tokens)``."""
    return (
        spread(batch)
        .select(
            F.col(id_col).alias("id"),
            F.col(lang_col).alias("lang"),
            F.col(text_col).alias("text"),
            F.size(X.word_tokens(text_col)).cast("long").alias("n_tokens"),
        )
        .filter(
            F.col("lang").isin(*langs) & (F.col("n_tokens") >= min_tokens)
        )
    )


def curation_maintain_batch(
    batch: DataFrame,
    store_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    langs: tuple[str, ...] = ("en", "de", "fr"),
    min_tokens: int = 25,
    threshold: float = 0.8,
    epoch_id: int | None = None,
) -> None:
    """Process one (micro-)batch of arriving documents: gate, append the
    gated docs' fingerprint rows to ``<store_root>/fps``, and maintain
    the near-dup band/shingle/matches stores.  Callable directly on a
    static DataFrame (the arrival-order tests) or from ``foreachBatch``.
    """
    gated = curation_gate(
        batch, text_col, id_col, lang_col, langs, min_tokens
    ).localCheckpoint(eager=True)  # one gate pass feeds both stores
    fps = gated.select(
        X.fingerprint64("text").alias("fp"), "id", "lang", "n_tokens"
    )
    if epoch_id is None:
        fps.write.mode("append").parquet(f"{store_root}/fps")
    else:
        fps.write.mode("overwrite").parquet(
            f"{store_root}/fps/epoch={int(epoch_id)}"
        )
    ND.detect_and_register(
        gated,
        f"{store_root}/bands",
        f"{store_root}/shingles",
        f"{store_root}/matches",
        text_col="text",
        id_col="id",
        threshold=threshold,
        epoch_id=epoch_id,
    )


def curation_survivors(spark: SparkSession, store_root: str) -> DataFrame:
    """The accepted-survivor view over the maintenance stores:
    ``(id, lang, n_tokens, exact_dups)`` — converges to
    ``curate_corpus(use_minhash=True, max_df=None)`` over the drained
    corpus (see module doc for why the kept-kept restriction is exact).
    Lazy scans over the logs; no driver-side collection."""
    fps = spark.read.option("basePath", f"{store_root}/fps").parquet(
        f"{store_root}/fps"
    ).select("fp", "id", "lang", "n_tokens")
    keep = (
        fps.select("fp", "id")
        .groupBy("fp")
        .agg(
            F.min("id").alias("id"),
            F.count("*").cast("long").alias("exact_dups"),
        )
        .drop("fp")
    )
    kept = fps.select("id", "lang", "n_tokens").join(keep, "id")
    from .stores import read_store

    matches = read_store(spark, f"{store_root}/matches")
    if matches is None:
        return kept.select("id", "lang", "n_tokens", "exact_dups")
    kept_ids = kept.select("id")
    pairs = (
        matches.select(
            F.col("new_id").alias("id_a"), F.col("matched_id").alias("id_b")
        )
        .join(kept_ids.withColumnRenamed("id", "id_a"), "id_a")
        .join(kept_ids.withColumnRenamed("id", "id_b"), "id_b")
    )
    dropped = (
        D.connected_components_star(pairs)
        .filter(F.col("node") != F.col("cluster"))
        .select(F.col("node").alias("id"))
    )
    return kept.join(dropped, "id", "left_anti").select(
        "id", "lang", "n_tokens", "exact_dups"
    )


def curation_v2_maintain_batch(
    batch: DataFrame,
    store_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_stops: int = 2,
    threshold: float = 0.8,
    m_buckets: int = 1024,
    dsir_hash: str = "md5",
    epoch_id: int | None = None,
) -> None:
    """Process one (micro-)batch for the V2 composed pipeline (VERDICT
    r11 #1): everything :func:`curation_maintain_batch` keeps PLUS the
    corpus-stat partials the v2 stages need, each a PURE per-document
    function computed once at arrival:

    - ``fps``     — ``(fp, id, lang, n_words)`` per GOPHER-gated doc
      (:func:`~..operators.dedup.curation_v2_gate`, the batch
      pipeline's exact first stage);
    - ``doctoks`` — ``(id, token, tf)`` per-doc token counts (the
      surprisal join side; tokenizing is the corpus-scale cost and is
      paid here, never at view time);
    - ``lm``      — ``(token, cnt)`` per-EPOCH partial sums of the
      unigram LM (vocab-sized epochs; the view's merge is a sum by
      token — the "append-only token-frequency store");
    - ``feats``   — ``(id, bucket, cnt)`` per-doc hashed DSIR feature
      counts (:func:`~..operators.selection.doc_feature_buckets`);
    - band/shingle/matches near-dup stores (the shared
      :func:`~.neardup.detect_and_register` path, ``n=3`` shingles —
      the batch pair graph's signature family).

    Why per-DOC partials and not per-epoch sums for doctoks/feats: the
    tercile and DSIR stages are fit on RETROACTIVE populations (tercile
    membership moves as the LM grows; DSIR's LMs are fit on the final
    survivor set) — a per-doc row restricts to any population at view
    time, while still amortizing the expensive tokenize/hash scan to
    arrival.  All stores are epoch-keyed-overwrite on the streaming
    path, so a replayed micro-batch rewrites exactly its own rows."""
    from ..operators.dedup import curation_v2_gate
    from ..operators.selection import doc_feature_buckets

    gated = curation_v2_gate(
        batch, text_col, id_col, lang_col, min_stops
    ).localCheckpoint(eager=True)  # one gate pass feeds all five stores

    def _write(df: DataFrame, name: str) -> None:
        if epoch_id is None:
            df.write.mode("append").parquet(f"{store_root}/{name}")
        else:
            df.write.mode("overwrite").parquet(
                f"{store_root}/{name}/epoch={int(epoch_id)}"
            )

    _write(
        gated.select(
            X.fingerprint64("text").alias("fp"), "id", "lang", "n_words"
        ),
        "fps",
    )
    tf = (
        gated.select("id", F.explode(X.word_tokens("text")).alias("token"))
        .groupBy("id", "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)  # feeds doctoks AND the lm partial
    )
    _write(tf, "doctoks")
    _write(tf.groupBy("token").agg(F.sum("tf").alias("cnt")), "lm")
    _write(
        doc_feature_buckets(
            gated, m_buckets, "text", "id", bigrams=True, hash_fn=dsir_hash
        ),
        "feats",
    )
    ND.detect_and_register(
        gated,
        f"{store_root}/bands",
        f"{store_root}/shingles",
        f"{store_root}/matches",
        text_col="text",
        id_col="id",
        threshold=threshold,
        epoch_id=epoch_id,
    )


def curation_v2_survivors(
    spark: SparkSession,
    store_root: str,
    target_lang: str = "en",
    k_select: int = 100,
    m_buckets: int = 1024,
) -> DataFrame:
    """The accepted-survivor + selection view over the v2 maintenance
    stores — converges ROW-FOR-ROW (all 13 output columns) to
    ``curate_corpus_v2(use_minhash=True, max_df=None, strip_spans=
    False)`` over the drained corpus.  Per stage:

    - **terciles**: the LM is the merged ``lm`` store (sum by token —
      identical to the batch ``freq`` aggregate because integer sums
      are associative over epochs); per-doc surprisal re-joins
      ``doctoks`` against it with the exact ``unigram_surprisal``
      integer expressions; cut points come from the SHARED
      :func:`~..operators.textstats.tercile_cut_points` fold.  No
      re-tokenization — the corpus-scale scan happened at arrival.
    - **exact dedup**: min-id-per-fp over the tercile SURVIVORS (the
      restriction is applied to the stored fps at view time, because
      tercile membership is retroactive — see the module doc's
      kept-kept argument, which extends verbatim: the restriction set
      here is tercile ∩ exact keepers).
    - **pair graph / split / near-dup drop**: the matches log restricted
      to kept-kept, then the SAME ``leakage_safe_split``(pairs=) +
      component-size + representative-filter DataFrame algebra as the
      batch composition.
    - **DSIR**: survivor-restricted sums over the per-doc ``feats``
      store (:func:`~..operators.selection.
      cross_entropy_diff_scores_from_buckets` — bit-identical
      arithmetic) + the shared :func:`~..operators.selection.topk_flag`.

    Convergence is witnessed driver-visibly by the
    ``streaming_curation_v2_maintenance`` gallery query
    (``batch_diff_rows``) and pinned across arrival orders in
    tests/test_streaming.py."""
    from ..operators.dedup import leakage_safe_split
    from ..operators.selection import (
        cross_entropy_diff_scores_from_buckets,
        topk_flag,
    )
    from ..operators.textstats import tercile_bucket_expr, tercile_cut_points

    meta = spark.read.option("basePath", f"{store_root}/fps").parquet(
        f"{store_root}/fps"
    ).select("fp", "id", "lang", "n_words")
    doctoks = spark.read.option(
        "basePath", f"{store_root}/doctoks"
    ).parquet(f"{store_root}/doctoks").select("id", "token", "tf")
    lm = spark.read.option("basePath", f"{store_root}/lm").parquet(
        f"{store_root}/lm"
    ).select("token", "cnt")
    freq = lm.groupBy("token").agg(F.sum("cnt").alias("freq")).localCheckpoint(
        eager=False
    )  # feeds the broadcast-dispatch count, the join, and the total
    total = freq.agg(F.sum("freq").alias("total"))
    # Same vocab-broadcast dispatch as unigram_surprisal (r12): when the
    # merged vocabulary fits a broadcast, the doc-token store scores
    # map-side and never shuffles by token — the view's only remaining
    # corpus-sized exchange is the per-doc fold.
    if freq.limit(4_000_001).count() <= 4_000_000:
        freq = F.broadcast(freq)
    scored = (
        doctoks.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "bits",
            F.col("tf")
            * (
                F.length(F.bin(F.expr("total div freq").cast("long")))
                - F.lit(1)
            ).cast("long"),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.sum("tf").alias("n_tokens"),
        F.sum("bits").alias("surprisal_bits"),
    )
    surp = (
        meta.select("id")
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("surprisal_bits", F.lit(0)).cast("long").alias(
                "surprisal_bits"
            ),
        )
        .withColumn(
            "bits_per_token_ppm",
            F.when(
                F.col("n_tokens") > 0,
                F.expr(
                    "(surprisal_bits * CAST(1000000 AS BIGINT)) div n_tokens"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        # feeds the cut-point fold AND the bucket assignment
        .localCheckpoint(eager=True)
    )
    t1, t2 = tercile_cut_points(surp)
    terc = surp.select(
        "id",
        "bits_per_token_ppm",
        tercile_bucket_expr(t1, t2).alias("bucket"),
    ).filter(F.col("bucket") != F.lit("tail"))
    gated2 = meta.join(terc, "id")
    keep = (
        gated2.select("fp", "id")
        .groupBy("fp")
        .agg(
            F.min("id").alias("id"),
            F.count("*").cast("long").alias("exact_dups"),
        )
        .drop("fp")
    )
    kept = gated2.join(keep, "id").localCheckpoint(eager=False)
    from .stores import read_store

    matches = read_store(spark, f"{store_root}/matches")
    kept_ids = kept.select("id")
    if matches is None:
        pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    else:
        pairs = (
            matches.select(
                F.col("new_id").alias("id_a"),
                F.col("matched_id").alias("id_b"),
            )
            .join(kept_ids.withColumnRenamed("id", "id_a"), "id_a")
            .join(kept_ids.withColumnRenamed("id", "id_b"), "id_b")
        )
    assign = leakage_safe_split(kept, "text", "id", pairs=pairs)
    csize = assign.groupBy("cluster_rep").agg(
        F.count("*").cast("long").alias("near_dups")
    )
    surv = (
        kept.join(assign, "id")
        .filter(F.col("id") == F.col("cluster_rep"))
        .join(csize, "cluster_rep")
        .localCheckpoint(eager=False)
    )
    feats = spark.read.option("basePath", f"{store_root}/feats").parquet(
        f"{store_root}/feats"
    ).select("id", "bucket", "cnt")
    fb = feats.join(surv.select("id", "lang"), "id").select(
        "id",
        (F.col("lang") == F.lit(target_lang)).alias("is_t"),
        "bucket",
        "cnt",
    )
    scores = cross_entropy_diff_scores_from_buckets(
        fb, surv.select("id"), m=m_buckets
    )
    sel = topk_flag(
        scores, F.col("mean_milli").cast("double"), k_select, "id"
    )
    return surv.join(sel, "id").select(
        "id",
        "lang",
        "n_words",
        "bits_per_token_ppm",
        "bucket",
        "exact_dups",
        F.lit(0).cast("long").alias("stripped_tokens"),
        "near_dups",
        "split",
        "n_feats",
        "score_bits",
        "mean_milli",
        "selected",
    )


def _drain_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    store_root: str,
    checkpoint: str,
    max_files_per_trigger: int | None,
    maintain_batch,
    **kwargs,
):
    """Parquet-directory source -> ``maintain_batch(batch, store_root,
    epoch_id=..., **kwargs)`` per micro-batch, drained with AvailableNow.
    A torn band store left by a killed batch is recovered first."""
    from .stores import recover_store

    recover_store(spark, f"{store_root}/bands")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        maintain_batch(batch_df, store_root, epoch_id=epoch_id, **kwargs)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", int(max_files_per_trigger)
        )
    return (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def curation_v2_maintenance_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    store_root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_stops: int = 2,
    threshold: float = 0.8,
    m_buckets: int = 1024,
    dsir_hash: str = "md5",
    max_files_per_trigger: int | None = None,
):
    """Streaming wrapper for the v2 maintenance: parquet-directory
    source -> per-micro-batch :func:`curation_v2_maintain_batch`.
    Same restart semantics as :func:`curation_maintenance_stream`."""
    return _drain_stream(
        spark, input_dir, schema, store_root, checkpoint,
        max_files_per_trigger, curation_v2_maintain_batch,
        text_col=text_col, id_col=id_col, lang_col=lang_col,
        min_stops=min_stops, threshold=threshold, m_buckets=m_buckets,
        dsir_hash=dsir_hash,
    )


def curation_maintenance_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    store_root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    langs: tuple[str, ...] = ("en", "de", "fr"),
    min_tokens: int = 25,
    threshold: float = 0.8,
    max_files_per_trigger: int | None = None,
):
    """Streaming wrapper: parquet-directory source -> per-micro-batch
    :func:`curation_maintain_batch`.  AvailableNow drains the backlog and
    stops; restarting with the same checkpoint processes only new files,
    and the fingerprint/band/shingle/matches stores carry accepted state
    across sessions — call :func:`curation_survivors` any time for the
    current accepted set."""
    return _drain_stream(
        spark, input_dir, schema, store_root, checkpoint,
        max_files_per_trigger, curation_maintain_batch,
        text_col=text_col, id_col=id_col, lang_col=lang_col, langs=langs,
        min_tokens=min_tokens, threshold=threshold,
    )
