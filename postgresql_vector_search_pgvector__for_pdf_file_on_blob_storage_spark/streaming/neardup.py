"""Incremental (streaming) near-duplicate detection — MinHash banding
with a persistent band store (SURVEY.md §2B B5 x B13 composition).

The batch near-dup operators (operators/dedup.py) answer "which pairs in
this corpus are near-duplicates"; a training-data INGEST pipeline needs
the incremental question instead: *as each new document arrives, does it
near-duplicate anything already accepted?*  The reference's trigger model
(one blob upload -> one Function invocation, Function.java:71-88) has the
same arrival shape, but no dedup at all.

Spark-first design — every micro-batch is pure DataFrame algebra:

- A **band store** (parquet, partitioned by ``band``) holds one
  ``(id, band, key)`` row per accepted document per band — 24 bytes/row,
  never text.  A **shingle store** holds ``(id, shingles)`` for the
  exact-verify step.
- Per micro-batch: shingle + sign the new docs (one pass), candidate =
  equi-join of new band keys against the store (plus new-vs-new within
  the batch), exact-verify candidates with Jaccard over the shingle
  arrays, append verified matches, then append the new docs' bands and
  shingles to the stores.
- The store join is partition-pruned by ``band`` (the store is laid out
  by band), and candidate volume tracks true near-dups exactly as in the
  batch operator.  State never lives in executor memory — it is a table,
  so the stream restarts cleanly from the checkpoint and the store.

``foreachBatch`` (not ``applyInPandasWithState``) is the right Spark
primitive here: the state is a *relation* joined per batch, not a
per-key scalar — exactly the pattern Structured Streaming documents for
stream-static joins where the static side must grow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..utils import spread
from .stores import prepare_store, read_store, write_store_partitioned

__all__ = ["detect_and_register", "neardup_stream"]


def detect_and_register(
    batch: DataFrame,
    band_dir: str,
    shingle_dir: str,
    matches_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    epoch_id: int | None = None,
) -> None:
    """Process one (micro-)batch of new documents: append near-dup
    matches ``(new_id, matched_id, jaccard)`` to ``matches_dir`` —
    ``matched_id`` is either an earlier-accepted doc from the store or a
    smaller-id doc in the same batch — then register the batch's bands
    and shingles.  Callable directly on a static DataFrame (the batch
    twin the tests pin) or from ``foreachBatch``.

    With ``epoch_id`` (the ``foreachBatch`` path, at-least-once) all
    three writes land in ``epoch=<id>`` subdirectories with overwrite,
    and store reads exclude the replayed epoch's own rows — a restarted
    micro-batch rewrites exactly its own output instead of appending
    duplicate matches and registrations.  Store existence is probed by
    reading (object-store-safe), never ``os.path``.
    """
    spark = batch.sparkSession
    sh = spread(batch).select(
        F.col(id_col).alias("id"),
        D.word_shingles(text_col, n).alias("shingles"),
    )
    # One shingling pass feeds banding, verification, and the store append.
    sh = sh.localCheckpoint(eager=True)
    new_bands = D.minhash_band_keys(
        sh, num_hashes=num_hashes, bands=bands
    ).localCheckpoint(eager=True)

    # Candidates: new vs accepted store (any direction) + new vs new
    # (smaller id wins, mirroring the batch operator's id_a < id_b).
    cand_new = (
        new_bands.alias("a")
        .join(
            new_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") > F.col("b.id")),
        )
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("matched_id"))
    )
    band_store = prepare_store(
        read_store(spark, band_dir), epoch_id, "near-dup band store"
    )
    if band_store is not None:
        store = band_store
        cand_old = (
            new_bands.alias("a")
            .join(
                store.alias("s"),
                (F.col("a.band") == F.col("s.band"))
                & (F.col("a.key") == F.col("s.key")),
            )
            .select(
                F.col("a.id").alias("new_id"), F.col("s.id").alias("matched_id")
            )
        )
        cand = cand_new.unionByName(cand_old)
    else:
        cand = cand_new
    cand = cand.dropDuplicates(["new_id", "matched_id"])

    # Exact verification over the full shingle sets: new side from this
    # batch, matched side from the batch or the store.
    sh_all = sh
    sh_store = prepare_store(
        read_store(spark, shingle_dir), epoch_id, "near-dup shingle store"
    )
    if sh_store is not None:
        sh_all = sh.unionByName(
            sh_store.select("id", "shingles"), allowMissingColumns=False
        )
    verified = (
        cand.join(
            sh.select(F.col("id").alias("new_id"), F.col("shingles").alias("sh_a")),
            "new_id",
        )
        .join(
            sh_all.select(
                F.col("id").alias("matched_id"), F.col("shingles").alias("sh_b")
            ),
            "matched_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("new_id", "matched_id", "jaccard")
    )
    if epoch_id is None:
        verified.write.mode("append").parquet(matches_dir)
        sh.write.mode("append").parquet(shingle_dir)
    else:
        # Epoch-keyed overwrite: replaying this batch rewrites exactly
        # its own output (see docstring).
        e = int(epoch_id)
        verified.write.mode("overwrite").parquet(f"{matches_dir}/epoch={e}")
        sh.write.mode("overwrite").parquet(f"{shingle_dir}/epoch={e}")
    # Register AFTER matching: a batch's docs never match their own store
    # rows (the within-batch join covers them exactly once).  Empty-safe
    # partitioned write (stores.write_store_partitioned).
    write_store_partitioned(new_bands, band_dir, "band", epoch_id)


def neardup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    band_dir: str,
    shingle_dir: str,
    matches_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_files_per_trigger: int | None = None,
    on_batch=None,
    compact_every: int | None = None,
):
    """Streaming wrapper: parquet-directory source -> per-micro-batch
    :func:`detect_and_register`.  AvailableNow trigger drains the backlog
    and stops; re-starting with the same checkpoint processes only new
    files, and the band/shingle stores carry the accepted state across
    runs.

    ``max_files_per_trigger`` / ``on_batch`` / ``compact_every`` follow
    the substring.bloom_substring_stream contract (ingest pacing,
    post-write crash seam, inline compaction after every K-th epoch —
    here of the whole band store below its newest epoch; the store is
    re-read per batch, so the fold is picked up by the next batch's
    candidate join; the shingle store is epoch-keyed but carries no
    bucket partition column, so compact_store does not apply to it).
    A restart after a mid-swap death repairs the store at session start,
    before the replayed batch's first probe reads it."""
    from .stores import recover_store

    # Unconditional: a crash inside a MANUAL maintenance-window
    # compact_store swap followed by a restart WITHOUT inline
    # compaction must still be repaired before the store is read
    # (cheap glob no-op when no swap was interrupted).
    recover_store(spark, band_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        detect_and_register(
            batch_df,
            band_dir,
            shingle_dir,
            matches_dir,
            text_col=text_col,
            id_col=id_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            epoch_id=epoch_id,
        )
        if (
            compact_every is not None
            and epoch_id > 0
            and epoch_id % int(compact_every) == 0
        ):
            from .stores import compact_store

            compact_store(
                batch_df.sparkSession, band_dir, "band", sort_cols=["key"]
            )
        if on_batch is not None:
            on_batch(epoch_id)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
