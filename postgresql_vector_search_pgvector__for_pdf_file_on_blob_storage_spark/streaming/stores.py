"""Shared helpers for the streaming state-table ("store") pattern used by
the incremental dedup modules (neardup.py, semdedup.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """Open a parquet store, or None if it does not exist yet.  A read
    attempt rather than ``os.path.exists`` so s3://, hdfs://, abfss://
    and local paths all behave identically.

    Only a MISSING path maps to None — any other analysis failure
    (corrupt metadata, conflicting partition layouts, schema drift,
    access errors surfaced as AnalysisException) re-raises: an
    existing-but-unreadable store must be a loud failure, never a silent
    "no history, register everything as fresh" miss."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        marker = getattr(e, "errorClass", None) or ""
        if "PATH_NOT_FOUND" in (marker or "") or "PATH_NOT_FOUND" in str(e):
            return None
        raise


def prepare_store(
    store: DataFrame | None, epoch_id: int | None, what: str
) -> DataFrame | None:
    """Validate and prepare an opened store for one batch.

    - **Layout consistency**: the epoch-keyed (streaming) and flat
      (direct batch-twin) call styles produce incompatible directory
      layouts; mixing them against one store corrupts partition
      discovery — refuse loudly instead.
    - **Epoch monotonicity**: Structured Streaming replays at most the
      LAST uncommitted batch, so a valid ``epoch_id`` is >= every epoch
      already in the store.  A smaller one means the batch counter was
      reset (fresh/deleted checkpoint pointed at an existing store, or
      two streams sharing directories) — overwriting old epochs would
      silently destroy accepted state, so refuse.
    - **Replay hygiene**: a replayed epoch's own earlier registration is
      this very batch; drop it from the candidate side (the
      within-batch join covers those pairs exactly once).
    """
    if store is None:
        return None
    has_epoch = "epoch" in store.columns
    if epoch_id is None:
        if has_epoch:
            raise ValueError(
                f"{what}: store was written epoch-keyed (streaming mode)"
                " but this call has no epoch_id; mixing the flat and"
                " epoch layouts corrupts partition discovery.  Use the"
                " streaming wrapper, or a fresh store for direct calls."
            )
        return store
    if not has_epoch:
        raise ValueError(
            f"{what}: store was written flat (direct batch-twin mode)"
            " but this call is epoch-keyed; mixing the layouts corrupts"
            " partition discovery.  Use a fresh store for the stream."
        )
    max_epoch = store.agg(F.max("epoch")).collect()[0][0]
    if max_epoch is not None and int(epoch_id) < int(max_epoch):
        raise ValueError(
            f"{what}: batch epoch {int(epoch_id)} is behind the store's"
            f" newest epoch {int(max_epoch)} — the stream's batch counter"
            " went backwards (fresh/deleted checkpoint pointed at an"
            " existing store, or two streams share these directories)."
            " Overwriting would silently destroy accepted state; use a"
            " fresh store or restore the matching checkpoint."
        )
    return store.filter(F.col("epoch") != int(epoch_id))


def write_store_partitioned(
    df: DataFrame, path: str, partition_col: str, epoch_id: int | None
) -> bool:
    """Store-registration write shared by the streaming dedup modules.
    Returns True iff rows were written.

    Skips the write entirely when the frame is EMPTY: a partitioned write
    of zero rows produces a directory with no parquet files (only
    _SUCCESS — Spark's empty-schema marker file applies to
    non-partitioned writes), and every later ``read_store`` would then
    die with UNABLE_TO_INFER_SCHEMA even though no state is corrupt.
    Skipping keeps the store genuinely absent until something registers.
    """
    if df.limit(1).count() == 0:
        return False
    target = path if epoch_id is None else f"{path}/epoch={int(epoch_id)}"
    mode = "append" if epoch_id is None else "overwrite"
    df.write.partitionBy(partition_col).mode(mode).parquet(target)
    return True


def _recover_interrupted_compaction(spark: SparkSession, path: str) -> None:
    """Repair the store after a process death inside a previous
    :func:`compact_store` swap, BEFORE the store is re-read.

    The swap renames the target epoch dir aside to
    ``<path>.compact_old_epoch=K`` before renaming the consolidated temp
    dir into its place, so exactly three interrupted states exist:

    - temp dir only (died before the aside rename): store untouched —
      drop the stale temp dir.
    - aside present, ``epoch=K`` missing (died between aside and
      rename-in): the live tree is missing the target epoch — rename the
      aside back, restoring the exact pre-compaction store, then drop
      the temp dir (it will be rebuilt from the restored store).
    - aside present, ``epoch=K`` present (died after rename-in): the
      folded dir already contains every aside row — drop the aside;
      stale older epochs are harmless duplicates the resumed compaction
      folds again.

    Without this, the next compaction would rebuild the temp dir with
    ``mode("overwrite")`` from a store that is MISSING the target epoch,
    destroying the only surviving copies — permanent silent membership
    loss."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path
    base = path.rstrip("/")
    fs = jpath(base).getFileSystem(hconf)
    prefix = base + ".compact_old_epoch="
    for st in fs.globStatus(jpath(prefix + "*")) or []:
        aside = st.getPath()
        epoch = int(str(aside.getName()).rsplit("=", 1)[1])
        live = jpath(f"{base}/epoch={epoch}")
        if fs.exists(live):
            fs.delete(aside, True)
        elif not fs.rename(aside, live):
            raise IOError(
                f"compact_store recovery: could not restore {aside} to"
                f" {live}; refusing to compact — the aside dir holds the"
                " only copy of that epoch's rows"
            )
    fs.delete(jpath(base + ".compact_tmp"), True)


def recover_store(spark: SparkSession, path: str) -> None:
    """Public session-start hook: repair an interrupted compaction swap
    BEFORE anything reads the store.  compact_store already recovers on
    entry, but a stream that crashed mid-swap is restarted as a NEW
    session whose first reads happen before its next compaction — this
    closes that window (no-op when no swap was interrupted)."""
    _recover_interrupted_compaction(spark, path)


def compact_store(
    spark: SparkSession,
    path: str,
    partition_col: str,
    sort_cols: list[str] | None = None,
    below_epoch: int | None = None,
) -> dict:
    """Maintenance compaction for an epoch-keyed streaming store.

    Every micro-batch appends an ``epoch=K`` directory with one file per
    touched ``partition_col`` value, so a long-running stream accumulates
    thousands of small files and the per-batch full-store probe
    (the dominant per-batch I/O — streaming/substring.py's design note)
    pays ever-growing file-open overhead.  This rewrites all FULLY
    COMMITTED history — every epoch strictly below the newest — into one
    consolidated ``epoch = max-1`` directory, one file per partition,
    sorted by ``sort_cols`` (row-group min/max stats + better
    encoding), leaving the NEWEST epoch untouched.

    Why ``max-1`` and not ``max``: Structured Streaming may replay the
    newest epoch after a crash, and ``prepare_store`` drops the replayed
    epoch's own rows from the candidate store — if compaction folded all
    history into ``epoch=max``, that replay would silently drop the
    whole corpus history.  Folding into ``max-1`` keeps replay semantics
    and the epoch-monotonicity guard intact (max epoch unchanged).

    MUST run under single-writer discipline: either while the stream is
    stopped (manual maintenance window) or from INSIDE the stream's own
    ``foreachBatch`` callback (``compact_every=K`` of
    ``substring.bloom_substring_stream`` and its siblings — the stream is
    the single writer while the callback runs).  The swap
    is crash-safe under single-writer: the target epoch dir is renamed
    ASIDE (``<path>.compact_old_epoch=K``) rather than deleted, so at
    every instant the target epoch's rows exist in at least one of
    {live dir, aside dir + temp dir}; entry-time recovery
    (:func:`_recover_interrupted_compaction`) restores the aside dir if
    a previous run died mid-swap, BEFORE the store is re-read — the
    failure mode where a later run rebuilds the temp dir from an
    incomplete store (permanently losing the target epoch's membership
    rows) cannot occur.  Renames are not atomic on object stores, so a
    second CONCURRENT writer could still observe a partial store —
    single-writer is the contract, crash-with-restart is handled.
    Returns a summary dict.

    ``below_epoch``, when given, bounds the fold to epochs STRICTLY
    BELOW it (into ``below_epoch - 1``) instead of everything below the
    newest.  This is how a stream compacts its own store mid-session:
    passing the session floor folds only PRE-SESSION history, leaving
    every session-registered epoch dir (which the stream may still read
    as its delta, and which a replayed batch overwrites) untouched.
    Clamped to the newest epoch — the default behavior — when larger.
    """
    from pyspark.sql import functions as F  # local alias, matches module

    _recover_interrupted_compaction(spark, path)
    store = read_store(spark, path)
    if store is None:
        return {"compacted": False, "reason": "store missing"}
    if "epoch" not in store.columns:
        raise ValueError(
            "compact_store: flat (non-epoch) stores are single-writer"
            " appends with no epoch dirs to fold — nothing to compact"
        )
    epochs = sorted(
        r[0] for r in store.select("epoch").distinct().collect()
    )
    if len(epochs) < 2:
        return {"compacted": False, "reason": "single epoch"}
    max_epoch = epochs[-1]
    bound = (
        max_epoch
        if below_epoch is None
        else min(int(below_epoch), int(max_epoch))
    )
    folded = [e for e in epochs if int(e) < bound]
    # Default mode folds even a single below-max epoch (consolidating
    # its many per-batch files is the point); the bounded mode is called
    # REPEATEDLY from inside a stream, where re-folding an already-
    # consolidated single run would rewrite the whole history for
    # nothing — require two runs there.
    if len(folded) < (1 if below_epoch is None else 2):
        return {"compacted": False, "reason": "nothing to fold below bound"}
    target_epoch = bound - 1
    hist = store.filter(F.col("epoch") < int(bound)).drop("epoch")
    tmp = path.rstrip("/") + ".compact_tmp"
    writer = hist.repartition(F.col(partition_col))
    if sort_cols:
        writer = writer.sortWithinPartitions(partition_col, *sort_cols)
    writer.write.partitionBy(partition_col).mode("overwrite").parquet(tmp)

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path
    fs = jpath(path).getFileSystem(hconf)
    # Crash-safe swap: rename the target epoch dir ASIDE (not delete),
    # rename tmp (which holds the full folded history) into its place,
    # then drop the aside dir and the remaining old epoch dirs.  At no
    # point is the ONLY copy of the target epoch a dir that a later run
    # overwrites: a crash before the rename-in leaves the aside dir,
    # which entry-time recovery renames back before the store is read;
    # a crash after leaves folded history plus stale old epochs —
    # harmless duplicates for a membership store, folded again by the
    # next compaction.
    target_dir = jpath(f"{path}/epoch={int(target_epoch)}")
    aside = jpath(
        path.rstrip("/") + f".compact_old_epoch={int(target_epoch)}"
    )
    had_target = fs.exists(target_dir)
    if had_target and not fs.rename(target_dir, aside):
        raise IOError(
            f"compact_store: could not move {target_dir} aside —"
            " store untouched; folded history is in the temp dir"
        )
    if not fs.rename(jpath(tmp), target_dir):
        if had_target:
            fs.rename(aside, target_dir)  # roll back to pre-swap state
        raise IOError(
            f"compact_store: rename of {tmp} into the store failed —"
            " store rolled back; folded history preserved in the temp dir"
        )
    if had_target:
        fs.delete(aside, True)
    # Delete every folded epoch EXCEPT the target.  Epochs need not be
    # contiguous (write_store_partitioned skips empty frames), so the
    # target dir is not necessarily epochs[-2] — a positional slice here
    # would leave a stale epoch dir whose duplicate rows a re-run of
    # compaction folds permanently into the consolidated file.
    for e in folded:
        if int(e) != int(target_epoch):
            fs.delete(jpath(f"{path}/epoch={int(e)}"), True)
    return {
        "compacted": True,
        "epochs_folded": len(folded),
        "target_epoch": int(target_epoch),
    }
