"""Incremental (streaming) semantic dedup — the SemDeDup question asked
at ingest time (SURVEY.md §2B B17 x B13 composition): *as each new
embedding arrives, is it a semantic duplicate of anything already
accepted?*

Mirrors streaming/neardup.py's store design, with the cluster layout
doing the candidate pruning that MinHash bands do for text:

- Coarse centroids are FROZEN up front
  (operators.semdedup.kmeans_centroids, or any saved ann.IVFIndex's
  centroids) — pgvector-ivfflat semantics: the quantizer does not drift
  per batch, so assignment is a pure function and the store layout stays
  stable.  Remedy for drift is an offline rebuild, same as the batch IVF
  operator documents.
- A **vector store** (parquet, partitioned by ``cluster_id``; under
  streaming, by ``epoch``/``cluster_id``) holds one
  ``(id, cluster_id, vec)`` row per accepted vector, embeddings
  L2-NORMALIZED ON WRITE so every later comparison is a plain dot.
- Per micro-batch: assign new vectors to their nearest frozen centroid
  (operators.semdedup.assign_to_centroids — ann.nearest_centroid_col), read
  ONLY the store partitions for clusters present in the batch (partition
  pruning on the parquet layout), score new-vs-store and new-vs-new
  (smaller id wins) within matching clusters, append matches, then
  register the batch into the store.
- **Replay-safe**: under ``foreachBatch`` (at-least-once), both writes
  are keyed by ``epoch_id`` and use overwrite — a replayed micro-batch
  rewrites its own ``epoch=N`` directories instead of appending
  duplicates, so restart from the checkpoint is effectively
  exactly-once.  (Direct batch-twin calls without an epoch append, for
  simple scripted ingest.)
- **Hot-cluster refusal**: candidate volume per batch is
  |batch ∩ cluster| x |store+batch ∩ cluster|; a cluster whose COMBINED
  batch+store rows exceed ``max_store_cluster`` raises loudly inside the
  scoring task, naming the cluster (the streaming form of
  semantic_dup_edges' ``max_cluster_size`` discipline) instead of
  silently becoming a per-batch straggler.  Remedy: finer frozen
  centroids (rebuild), or smaller batches if the batch itself is the
  bulk.  Task-side raises surface as ``pyspark.errors.PythonException``.
- State is a relation, not executor memory — and store existence is
  probed by *reading* it (portable to object stores), never by
  ``os.path`` checks that only see the local filesystem.
- **Pinned parameters**: the store records ``eps`` and a digest of the
  frozen centroids (``utils.pin_marker``); a later batch or stream with
  other ones is refused rather than matched against clusters that mean
  something else.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..operators import blockscan as BS
from ..operators.semdedup import assign_to_centroids, kmeans_centroids
from ..utils import pin_marker, spread
from .stores import prepare_store, read_store, write_store_partitioned

__all__ = ["fit_frozen_centroids", "detect_and_register", "semdedup_stream"]

# The frozen quantizer fit, re-exported under the streaming module's
# historical name (one fit seam — operators.semdedup._fit_kmeans).
fit_frozen_centroids = kmeans_centroids


def _bipartite_edges(
    scored: DataFrame, eps: float, max_store_cluster: int
) -> DataFrame:
    """Per-cluster bipartite duplicate scan: for every NEW row, distances
    to ALL rows of its cluster (store + batch) through the blockscan
    threshold reducer — the one kernel the batch operator's
    ``semantic_dup_edges`` uses too, here masked to new-row sources.
    Input rows carry ``(id, cluster_id, vec, is_new)`` with ``vec``
    already L2-normalized on write (so the kernel scores ``1 - a.b``
    without normalizing again; a zero vector stays zero and never
    matches); emits ``(new_id, matched_id, cos_dist)`` where
    ``matched_id`` is any store row or a SMALLER-id new row (each
    within-batch pair once).

    Replaces a native per-pair ``zip_with`` dot join that measured 85 s
    for a 10k batch against a 900k store (1.4e8 candidate pairs through
    the interpreted HOF path); the GEMM form scores the same pairs at
    BLAS throughput.  A cluster whose rows exceed ``max_store_cluster``
    raises inside the task — the loud-refusal discipline, enforced where
    the quadratic work would actually happen."""
    import numpy as np
    import pandas as pd

    eps_f, cap, tile = float(eps), int(max_store_cluster), BS.TILE

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m > cap:
            cid = int(pdf["cluster_id"].iloc[0])
            n_new = int(pdf["is_new"].sum())
            raise ValueError(
                f"streaming semantic dedup: cluster {cid} holds {m} rows"
                f" ({n_new} from this batch, {m - n_new} from the store)"
                f" > max_store_cluster={cap}; per-batch candidate volume"
                " against it grows without bound.  Use finer frozen"
                " centroids (rebuild the store), smaller batches if the"
                " batch dominates, or raise the cap explicitly."
            )
        X, ok = BS.rows(pdf["vec"].to_numpy())
        ids = pdf["id"].to_numpy(dtype=np.int64)[ok]
        flags = pdf["is_new"].to_numpy(dtype=bool)[ok]
        new_idx = np.flatnonzero(flags)

        def keep(i, j):
            # never self; a within-batch pair once, from its larger id
            a = new_idx[i]
            return (a != j) & (~flags[j] | (ids[a] > ids[j]))

        i, j, d = BS.pairs(X[new_idx], X, "cosine", eps_f, keep, tile)
        return pd.DataFrame(
            {"new_id": ids[new_idx[i]], "matched_id": ids[j], "cos_dist": d}
        )

    return (
        scored.select("id", "cluster_id", "vec", "is_new")
        .groupBy("cluster_id")
        .applyInPandas(
            per_cluster, "new_id long, matched_id long, cos_dist double"
        )
    )


def _pin_store(spark: SparkSession, store_dir: str, centroids, eps) -> None:
    """Pin ``eps`` and a digest of the frozen centroids to the store: its
    ``cluster_id`` partitions and recorded matches mean nothing under
    other ones.  Called only once the root holds rows — a marker dir in
    a still-empty root would make :func:`read_store` fail instead of
    reporting the store missing."""
    digest = hashlib.sha256(
        np.asarray(centroids, dtype=np.float64).tobytes()
    ).hexdigest()[:16]
    for key, value in (("eps", float(eps)), ("centroids", digest)):
        pin_marker(
            spark, store_dir, key, value, "semantic vector store",
            "its clusters and matches were built with another value; use"
            " a fresh store_dir",
        )


def detect_and_register(
    batch: DataFrame,
    centroids: list[list[float]],
    store_dir: str,
    matches_dir: str,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    epoch_id: int | None = None,
    max_store_cluster: int = 200_000,
) -> None:
    """Process one (micro-)batch of new vectors: append semantic-dup
    matches ``(new_id, matched_id, cos_dist)`` to ``matches_dir`` —
    ``matched_id`` is an earlier-accepted vector from the store or a
    smaller-id vector in the same batch — then register the batch.

    With ``epoch_id`` (the ``foreachBatch`` path) both writes land in
    ``epoch=<id>`` subdirectories with overwrite, so a replayed batch is
    idempotent; without it (direct scripted calls) they append.
    NULL-embedding rows are dropped up front — they cannot be duplicate
    candidates (same guard as the batch operator)."""
    spark = batch.sparkSession
    store = read_store(spark, store_dir)
    if store is not None:
        _pin_store(spark, store_dir, centroids, eps)
    # Zero-norm guard (the batch kernel's norms==0 -> 1.0, applied at the
    # normalize-on-write boundary): an all-zero embedding must become a
    # zero vector that never matches, not a NaN row living in the store.
    raw_norm = V.l2_norm(vec_col)
    nrm = F.when(raw_norm == 0.0, F.lit(1.0)).otherwise(raw_norm)
    new = (
        assign_to_centroids(
            spread(batch)
            .filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("id"), F.col(vec_col)),
            centroids,
            vec_col,
        )
        .withColumn("__n", nrm)
        .select(
            "id",
            "cluster_id",
            F.transform(
                vec_col, lambda x: x.cast("double") / F.col("__n")
            ).alias("vec"),
        )
        .localCheckpoint(eager=True)
    )
    scored = new.withColumn("is_new", F.lit(True))
    store = prepare_store(store, epoch_id, "semantic vector store")
    if store is not None:
        # Partition-pruned store read: only clusters present in this
        # batch are ever opened (cluster count is small by construction,
        # so the IN-list is a literal pruning predicate).
        batch_clusters = [
            r["cluster_id"]
            for r in new.select("cluster_id").distinct().collect()
        ]
        scored = scored.unionByName(
            store.filter(F.col("cluster_id").isin(batch_clusters))
            .select("id", "cluster_id", "vec")
            .withColumn("is_new", F.lit(False))
        )
    matches = _bipartite_edges(scored, eps, max_store_cluster)
    if epoch_id is None:
        matches.write.mode("append").parquet(matches_dir)
    else:
        # Epoch-keyed overwrite: replaying this batch rewrites exactly its
        # own output, never duplicating matches or store rows.
        matches.write.mode("overwrite").parquet(
            f"{matches_dir}/epoch={int(epoch_id)}"
        )
    # Register AFTER matching (a batch never matches its own store rows;
    # the within-batch join covers those pairs exactly once).  Empty-safe
    # partitioned write (stores.write_store_partitioned).
    wrote = write_store_partitioned(new, store_dir, "cluster_id", epoch_id)
    if wrote and store is None:
        _pin_store(spark, store_dir, centroids, eps)


def semdedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    centroids: list[list[float]],
    store_dir: str,
    matches_dir: str,
    checkpoint: str,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_store_cluster: int = 200_000,
    max_files_per_trigger: int | None = None,
    on_batch=None,
    compact_every: int | None = None,
):
    """Streaming wrapper: parquet-directory source -> per-micro-batch
    :func:`detect_and_register` with epoch-keyed idempotent writes.
    AvailableNow trigger drains the backlog and stops; restarting with
    the same checkpoint processes only new files, with the vector store
    carrying accepted state across runs.

    ``max_files_per_trigger`` bounds each micro-batch; ``on_batch`` is
    the post-write crash-injection seam (see
    substring.bloom_substring_stream);
    ``compact_every=K`` folds the cluster-partitioned vector store inline
    after every K-th epoch (store re-read per batch, so the next batch's
    partition-pruned reads hit one file per touched cluster).  A restart
    after a mid-swap death repairs the store at session start, before
    the replayed batch's first probe reads it."""
    from .stores import recover_store

    # Unconditional: a crash inside a MANUAL maintenance-window
    # compact_store swap followed by a restart WITHOUT inline
    # compaction must still be repaired before the store is read
    # (cheap glob no-op when no swap was interrupted).
    recover_store(spark, store_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        detect_and_register(
            batch_df,
            centroids,
            store_dir,
            matches_dir,
            eps=eps,
            id_col=id_col,
            vec_col=vec_col,
            epoch_id=epoch_id,
            max_store_cluster=max_store_cluster,
        )
        if (
            compact_every is not None
            and epoch_id > 0
            and epoch_id % int(compact_every) == 0
        ):
            from .stores import compact_store

            compact_store(batch_df.sparkSession, store_dir, "cluster_id")
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
