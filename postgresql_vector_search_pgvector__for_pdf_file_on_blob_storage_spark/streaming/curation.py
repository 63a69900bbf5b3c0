"""Incremental corpus-curation maintenance — the batch curation pipelines
(operators/dedup.curate_corpus and curate_corpus_v2) as ARRIVAL-batch
compositions (VERDICT r10 next-round #7): a real corpus ingests
continuously, so gate / exact-dedup / near-dup state is maintained per
micro-batch, and the accepted SURVIVOR set converges to what the batch
pipeline computes over the drained corpus.

Per micro-batch (``foreachBatch``, all DataFrame algebra): the batch
pipeline's own gate (it is per-doc pure, so the gated set is append-only
under arrival); one ``(fp, id, ...)`` fingerprint row per gated doc; and
:func:`streaming.neardup.detect_and_register` — new docs band-probe the
persistent band store, candidates exact-verify over the shingle store,
verified pairs append to the matches log, so candidate cost tracks true
near-dups, never batch x corpus.  Every store write is an epoch-keyed
overwrite, so a replayed micro-batch rewrites exactly its own rows.

The survivor views call the batch pipelines' stage functions over the
stores, so stream == batch holds by construction: min-id-per-fp is a
property of the fingerprint SET (arrival order cannot change it), and
the kept-kept restriction of the maintained pair graph is exact because
a MinHash signature is a per-document function — a kept-kept pair bands
together in the stream iff it does in the batch operator, the verify
Jaccard is the same full-shingle-set expression, and pairs with a
dropped-duplicate endpoint are exactly the rows the restriction removes.
:func:`curation_survivors` equals ``curate_corpus(use_minhash=True,
max_df=None)`` and :func:`curation_v2_survivors` equals
``curate_corpus_v2(use_minhash=True, max_df=None, strip_spans=False)``
row-for-row (all 13 columns) after draining the same corpus: the
``streaming_curation_maintenance`` / ``streaming_curation_v2_maintenance``
driver queries carry the bag diff as ``batch_diff_rows``, and
tests/test_streaming.py pins it across arrival orders and restarts.

V2 (r12, VERDICT r11 #1): the expensive per-document work (Gopher gate,
tokenize, DSIR featurize+hash, MinHash signatures) is paid once at
arrival into per-doc partial stores; the corpus-stat fits (unigram LM,
tercile cut points, DSIR bucket LMs) are folds over those partials,
recomposed at view time against the current retroactive population
(tercile membership moves as the LM grows; DSIR fits on final
survivors).

100 TB shape: per-batch work is scan predicates + an 8-byte fingerprint
projection + the banded candidate join; every store is a parquet table
(restart-safe, no executor-memory state).  Each store pins the
maintenance parameters that decide its contents
(:func:`utils.pin_marker`): a batch or view with other ones is refused,
never mixed in silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as X
from ..operators import dedup as D
from ..operators import textstats as TS
from ..utils import pin_marker
from . import neardup as ND
from .stores import read_store

__all__ = [
    "curation_maintain_batch",
    "curation_maintenance_stream",
    "curation_survivors",
    "curation_v2_maintain_batch",
    "curation_v2_maintenance_stream",
    "curation_v2_survivors",
]


def _pin(spark: SparkSession, store_root: str, what: str, **params) -> None:
    for key, value in params.items():
        pin_marker(
            spark, store_root, key, value, what,
            "its stores were maintained with another value; use a fresh"
            " store_root",
        )


def _write(df: DataFrame, store_root: str, name: str, epoch_id) -> None:
    """Append ``df`` to the store ``<store_root>/<name>``; on the streaming
    path overwrite its ``epoch=<id>`` directory instead, so a replayed
    micro-batch rewrites exactly its own rows."""
    if epoch_id is None:
        df.write.mode("append").parquet(f"{store_root}/{name}")
    else:
        df.write.mode("overwrite").parquet(
            f"{store_root}/{name}/epoch={int(epoch_id)}"
        )


def _read(
    spark: SparkSession, store_root: str, name: str, *cols: str
) -> DataFrame:
    path = f"{store_root}/{name}"
    return spark.read.option("basePath", path).parquet(path).select(*cols)


def _register_pairs(
    gated: DataFrame, store_root: str, threshold: float, epoch_id
) -> None:
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


def _maintained_pairs(spark: SparkSession, store_root: str):
    """The matches log as an ``(id_a, id_b)`` pair graph over every gated
    doc, or None before the first batch."""
    matches = read_store(spark, f"{store_root}/matches")
    if matches is None:
        return None
    return matches.select(
        F.col("new_id").alias("id_a"), F.col("matched_id").alias("id_b")
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
    ``langs``, ``min_tokens`` and ``threshold`` are pinned to the store.
    """
    _pin(
        batch.sparkSession, store_root, "curation_maintain_batch",
        langs=",".join(sorted(langs)), min_tokens=min_tokens,
        threshold=threshold,
    )
    gated = D.curation_v1_gate(
        batch, text_col, id_col, lang_col, langs, min_tokens
    ).localCheckpoint(eager=True)  # one gate pass feeds both stores
    _write(
        gated.select(
            X.fingerprint64("text").alias("fp"), "id", "lang", "n_tokens"
        ),
        store_root, "fps", epoch_id,
    )
    _register_pairs(gated, store_root, threshold, epoch_id)


def curation_survivors(spark: SparkSession, store_root: str) -> DataFrame:
    """The accepted-survivor view over the maintenance stores, ``(id,
    lang, n_tokens, exact_dups)``: ``curate_corpus``'s exact keepers,
    kept-kept restriction and near-dup drop over the logs.  Lazy scans;
    no driver-side collection."""
    fps = _read(spark, store_root, "fps", "fp", "id", "lang", "n_tokens")
    kept = fps.select("id", "lang", "n_tokens").join(
        D._exact_keepers(fps.select("fp", "id")), "id"
    )
    pairs = _maintained_pairs(spark, store_root)
    if pairs is None:
        return kept.select("id", "lang", "n_tokens", "exact_dups")
    return D._drop_near_dups(kept, D._kept_pairs(pairs, kept))


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
    r11 #1): the Gopher gate (:func:`~..operators.dedup.curation_v2_gate`)
    once, then per-document stores, each a PURE per-doc function paid
    once at arrival:

    - ``fps``     — ``(fp, id, lang, n_words)`` per gated doc;
    - ``doctoks`` — ``(id, token, tf)`` per-doc token counts (tokenizing
      is the corpus-scale cost and is never paid at view time);
    - ``lm``      — ``(token, cnt)`` per-EPOCH partial sums of the
      unigram LM (the view merges them with a sum by token);
    - ``feats``   — ``(id, bucket, cnt)`` per-doc hashed DSIR feature
      counts (:func:`~..operators.selection.doc_feature_buckets`);
    - the band/shingle/matches near-dup stores (``n=3`` shingles — the
      batch pair graph's signature family).

    doctoks and feats stay per DOC, not per epoch: the tercile and DSIR
    stages are fit on retroactive populations, and a per-doc row
    restricts to any population at view time.  ``min_stops``,
    ``threshold``, ``m_buckets`` and ``dsir_hash`` are pinned to the
    store."""
    from ..operators.selection import doc_feature_buckets

    _pin(
        batch.sparkSession, store_root, "curation_v2_maintain_batch",
        min_stops=min_stops, threshold=threshold, m_buckets=m_buckets,
        dsir_hash=dsir_hash,
    )
    gated = D.curation_v2_gate(
        batch, text_col, id_col, lang_col, min_stops
    ).localCheckpoint(eager=True)  # one gate pass feeds all five stores
    _write(
        gated.select(
            X.fingerprint64("text").alias("fp"), "id", "lang", "n_words"
        ),
        store_root, "fps", epoch_id,
    )
    tf = (
        gated.select("id", F.explode(X.word_tokens("text")).alias("token"))
        .groupBy("id", "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)  # feeds doctoks AND the lm partial
    )
    _write(tf, store_root, "doctoks", epoch_id)
    _write(
        tf.groupBy("token").agg(F.sum("tf").alias("cnt")),
        store_root, "lm", epoch_id,
    )
    _write(
        doc_feature_buckets(
            gated, m_buckets, "text", "id", bigrams=True, hash_fn=dsir_hash
        ),
        store_root, "feats", epoch_id,
    )
    _register_pairs(gated, store_root, threshold, epoch_id)


def curation_v2_survivors(
    spark: SparkSession,
    store_root: str,
    target_lang: str = "en",
    k_select: int = 100,
    m_buckets: int = 1024,
) -> DataFrame:
    """The accepted-survivor + selection view over the v2 maintenance
    stores, ``curate_corpus_v2(use_minhash=True, max_df=None,
    strip_spans=False)``'s 13 columns.  Each stage calls the batch
    pipeline's stage function: per-doc surprisal
    (:func:`~..operators.textstats.surprisal_per_doc`) over the
    ``doctoks`` store against the merged ``lm`` store (integer sums are
    associative over epochs, so it equals the batch ``freq``), the
    tercile buckets, the exact keepers over the tercile survivors, the
    kept-kept restriction of the matches log, and the split survivors.
    DSIR sums the per-doc ``feats`` store over the survivors
    (:func:`~..operators.selection.cross_entropy_diff_scores_from_buckets`
    — bit-identical arithmetic) and flags with the shared
    :func:`~..operators.selection.topk_flag`.  ``m_buckets`` must be the
    store's (it is pinned; another value raises)."""
    from ..operators.selection import (
        cross_entropy_diff_scores_from_buckets,
        topk_flag,
    )

    _pin(spark, store_root, "curation_v2_survivors", m_buckets=m_buckets)
    meta = _read(spark, store_root, "fps", "fp", "id", "lang", "n_words")
    doctoks = _read(spark, store_root, "doctoks", "id", "token", "tf")
    freq = (
        _read(spark, store_root, "lm", "token", "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").alias("freq"))
        .localCheckpoint(eager=False)
    )  # feeds the broadcast-dispatch count, the join, and the total
    surp = TS.surprisal_per_doc(
        meta.select("id"), doctoks, freq
    ).localCheckpoint(eager=True)  # feeds the cut-point fold AND the buckets
    terc = TS.tercile_buckets(surp.select("id", "bits_per_token_ppm"))
    gated2 = meta.join(terc.filter(F.col("bucket") != F.lit("tail")), "id")
    kept = gated2.join(
        D._exact_keepers(gated2.select("fp", "id")), "id"
    ).localCheckpoint(eager=False)
    pairs = _maintained_pairs(spark, store_root)
    if pairs is None:
        graph = spark.createDataFrame([], "id_a bigint, id_b bigint")
    else:
        graph = D._kept_pairs(pairs, kept)
    surv = D._split_survivors(kept, graph).localCheckpoint(eager=False)
    fb = (
        _read(spark, store_root, "feats", "id", "bucket", "cnt")
        .join(surv.select("id", "lang"), "id")
        .select(
            "id",
            (F.col("lang") == F.lit(target_lang)).alias("is_t"),
            "bucket",
            "cnt",
        )
    )
    scores = cross_entropy_diff_scores_from_buckets(
        fb, surv.select("id"), m=m_buckets
    )
    sel = topk_flag(
        scores, F.col("mean_milli").cast("double"), k_select, "id"
    )
    return (
        surv.join(sel, "id")
        .withColumn("stripped_tokens", F.lit(0).cast("long"))
        .select(*D.CURATION_V2_COLUMNS)
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
