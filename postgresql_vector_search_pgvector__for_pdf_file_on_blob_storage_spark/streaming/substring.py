"""Incremental (streaming) substring-level dedup — the ngram_dup_stats
question asked at ingest time (SURVEY.md §2B B18 x B13 composition): *as
each new document arrives, how much of it is made of word n-gram windows
already seen in accepted documents?*

Third member of the incremental-dedup family (MinHash bands: neardup.py;
semantic vectors: semdedup.py), sharing their store discipline
(streaming/stores.py: read-probe existence, epoch-keyed idempotent
writes, layout/epoch guards):

- A **gram store** (parquet, partitioned by ``bucket`` = gk mod 64)
  holds one row per distinct accepted 64-bit gram hash — 8 bytes of
  payload per corpus-wide distinct gram, never text.  Registration
  anti-joins against the store so it stays distinct under append.
- Per micro-batch: shingle the new docs once (the batch operator's
  native sliding-window expressions), mark each distinct (doc, gram) as
  duplicated if the gram occurs in >= 2 docs OF THIS BATCH or exists in
  the store (a left-semi bucket-pruned join), and emit per-doc stats
  ``(doc_id, n_windows, n_grams, n_dup_grams, dup_gram_ppm)`` with the
  batch operator's exact column contract.
- A SINGLE batch over a whole corpus is therefore equivalent to the
  batch operator ``dedup.ngram_dup_stats(min_docs=2)`` — pinned by test.

Run one batch at a time, this reference pays a full distinct-gram-store
scan per batch: for any non-tiny batch the gram hashes touch all 64
buckets, so the ``isin(buckets)`` pruning below cannot shrink the probe.
There is one streaming form, :func:`bloom_substring_stream`, whose
per-batch wall and executor memory do not grow with the corpus; it is
tested against :func:`detect_and_register`.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as X
from ..operators.dedup import word_shingles
from ..utils import pin_marker, spread
from .bloomstore import (
    _bloom_probe,
    append_run_entries,
    bitmap_for,
    ensure_artifacts,
    open_parquet,
)
from .stores import prepare_store, read_store, write_store_partitioned

__all__ = ["detect_and_register", "bloom_substring_stream"]

N_BUCKETS = 64


def detect_and_register(
    batch: DataFrame,
    gram_dir: str,
    stats_dir: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    epoch_id: int | None = None,
) -> None:
    """Process one (micro-)batch of documents: append per-doc duplicated-
    window stats to ``stats_dir``, then register the batch's novel gram
    hashes.  Epoch semantics and call styles mirror the sibling modules
    (``epoch_id`` -> idempotent overwrite; direct calls append)."""
    spark = batch.sparkSession
    # Gram-string discipline (same as the batch operator): the gram text
    # is never checkpointed or shuffled — the shingle expression is
    # evaluated once per slim consumer below (recompute-beats-materialize,
    # dedup.ngram_dup_stats), and only longs persist per batch.
    raw = spread(batch).select(
        F.col(id_col).cast("long").alias("id"),
        word_shingles(text_col, n).alias("grams"),
        F.greatest(
            F.size(X.word_tokens(text_col)) - F.lit(n - 1), F.lit(0)
        )
        .cast("long")
        .alias("n_windows"),
    )
    base = raw.select(
        "id", "n_windows", F.size("grams").cast("long").alias("n_grams")
    ).localCheckpoint(eager=True)
    g = (
        raw.select("id", F.explode("grams").alias("__g"))
        .select("id", F.xxhash64("__g").alias("gk"))
        .withColumn("bucket", F.pmod(F.col("gk"), F.lit(N_BUCKETS)))
        .localCheckpoint(eager=True)
    )
    # duplicated within this batch (g is distinct per doc -> count = df)
    batch_dup = (
        g.groupBy("gk")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gk")
    )
    store = prepare_store(
        read_store(spark, gram_dir), epoch_id, "substring gram store"
    )
    batch_gk = g.select("gk", "bucket").distinct()
    if store is not None:
        # ONE bucket-pruned store pass serves both consumers: a left join
        # marking which distinct batch grams exist in the store yields the
        # store-duplicate keys AND the novel registration set (scanning
        # the ~distinct-gram-sized store twice would double the dominant
        # per-batch I/O).
        buckets = [
            r["bucket"] for r in batch_gk.select("bucket").distinct().collect()
        ]
        hits = (
            batch_gk.join(
                store.filter(F.col("bucket").isin(buckets))
                .select("gk")
                .withColumn("__in_store", F.lit(1)),
                "gk",
                "left",
            )
            .localCheckpoint(eager=True)
        )
        dup_keys = batch_dup.unionByName(
            hits.filter(F.col("__in_store") == 1).select("gk")
        ).distinct()
        novel = hits.filter(F.col("__in_store").isNull()).select(
            "gk", "bucket"
        )
    else:
        dup_keys = batch_dup
        novel = batch_gk
    per_doc = (
        g.join(dup_keys, "gk", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_dup_grams"))
    )
    stats = (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_windows",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias(
                "n_dup_grams"
            ),
        )
        .withColumn(
            "dup_gram_ppm",
            F.when(
                F.col("n_grams") > 0,
                F.expr(
                    "(n_dup_grams * CAST(1000000 AS BIGINT)) div n_grams"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    if epoch_id is None:
        stats.write.mode("append").parquet(stats_dir)
    else:
        stats.write.mode("overwrite").parquet(
            f"{stats_dir}/epoch={int(epoch_id)}"
        )
    # Register only NOVEL grams so the store stays distinct under append
    # — one row per corpus-wide distinct gram forever.  Empty-safe write
    # (an all-short-doc first batch must not poison the store dir).
    write_store_partitioned(novel, gram_dir, "bucket", epoch_id)


def _newest_log_entry(
    spark: SparkSession, checkpoint: str, subdir: str
) -> int | None:
    """The newest numeric entry of a checkpoint log dir (``commits`` =
    last committed batch; ``offsets`` = last STARTED batch), or None if
    the dir is absent/empty."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path
    d = jpath(f"{checkpoint}/{subdir}")
    fs = d.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(d):
        return None
    best = None
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.isdigit():
            best = int(name) if best is None else max(best, int(name))
    return best


_STORE_MARKER = "_store_registered"


def _mark_store_written(spark: SparkSession, checkpoint: str) -> None:
    """Record in the CHECKPOINT that at least one gram was ever
    registered into the store (empty existence-marker dir, idempotent).
    Lets a later session distinguish 'no grams ever registered'
    (snapshot legitimately empty) from 'store deleted behind a kept
    checkpoint' (silent-miss corruption — must refuse loudly)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path
    marker = jpath(f"{checkpoint}/{_STORE_MARKER}")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(marker):
        fs.mkdirs(marker)


def _store_marker_exists(spark: SparkSession, checkpoint: str) -> bool:
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path
    marker = jpath(f"{checkpoint}/{_STORE_MARKER}")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(marker))


def _session_history_guards(
    spark: SparkSession, checkpoint: str, gram_dir: str, what: str
) -> Tuple[int | None, "DataFrame | None"]:
    """Session-start consistency guards of the bloom stream: returns
    ``(committed, store)`` where ``committed`` is the checkpoint's last
    committed batch (None for a fresh checkpoint) and ``store`` the
    opened gram store (None if absent).  Refuses loudly on every
    checkpoint/store mismatch that would otherwise silently destroy or
    forget accepted corpus history:

    - store missing behind a checkpoint that ever registered a gram;
    - flat (non-epoch) store layout under an epoch-keyed stream;
    - brand-new checkpoint (no batch ever STARTED — offsets are written
      before a batch runs, so even a crashed first batch leaves one)
      against a store with history: the new stream's epoch 0 would
      OVERWRITE the old epoch=0 registrations;
    - store epochs ahead of what the checkpoint committed + the one
      replayable batch: the pair is from different streams."""
    committed = _newest_log_entry(spark, checkpoint, "commits")
    started = _newest_log_entry(spark, checkpoint, "offsets")
    store = read_store(spark, gram_dir)
    if store is None:
        # A checkpoint that ever registered a gram (marker) must find its
        # store: proceeding would treat every known gram as novel — the
        # silent corpus-history loss read_store's contract forbids.
        if _store_marker_exists(spark, checkpoint):
            raise ValueError(
                f"{what}: checkpoint {checkpoint} has"
                f" registered grams but the store {gram_dir} is missing"
                " (deleted or wrong path?).  Continuing would silently"
                " forget the whole corpus history; restore the store or"
                " start a fresh checkpoint."
            )
        return committed, None
    if "epoch" not in store.columns:
        raise ValueError(
            f"{what}: gram store was written flat"
            " (direct batch-twin mode); this stream registers"
            " epoch-keyed — use a fresh store directory."
        )
    max_epoch = store.agg(F.max("epoch")).first()[0]
    floor = -1 if committed is None else int(committed)
    if max_epoch is not None and started is None:
        raise ValueError(
            f"{what}: store {gram_dir} has history"
            f" (epoch {int(max_epoch)}) but checkpoint {checkpoint}"
            " is brand new — writing would silently destroy accepted"
            " state; use a fresh store or restore the matching"
            " checkpoint."
        )
    if max_epoch is not None and int(max_epoch) > floor + 1:
        raise ValueError(
            f"{what}: store has epoch {int(max_epoch)}"
            f" but the checkpoint committed only through {floor} — the"
            " checkpoint and store are from different streams (fresh/"
            "deleted checkpoint against an existing store?).  Writing"
            " would silently destroy accepted state; use a fresh store"
            " or restore the matching checkpoint."
        )
    return committed, store


# ---------------------------------------------------------------------------
# The streaming form (r07, artifact-incremental since r08): bounded-
# memory history with PERSISTED membership structures — the 100 TB form.
#
# No corpus-sized structure is cached, scanned per batch or carried in
# streaming state.  The history stays ON DISK and membership is answered
# the way an LSM tree serves point reads:
#
# - **History tier** (disk): the epoch-keyed, bucket-partitioned gram
#   store, with each registration written gk-SORTED within its bucket
#   files — sorted runs.  Never cached, never scanned wholesale.
# - **Bloom screen** (per-bucket bitmaps, persisted): one bitmap PER
#   BUCKET, maintained incrementally as store artifacts
#   (streaming/bloomstore.py) at a constant bits/gram budget.  Probe
#   tasks are bucket-partitioned and each loads only its buckets'
#   bitmap files (worker-cached) — executor memory is O(tasks x
#   per-bucket bitmap), never the total, so the bits/gram budget holds
#   at any corpus (a bucket that outgrows it is rebuilt at the next
#   power of two from its own 1/N_BUCKETS history slice).  A negative
#   answer is definite — the overwhelmingly common novel-gram case
#   costs ZERO history I/O.
# - **Exact verify** (disk point lookups): only Bloom-POSITIVE grams
#   are checked against the sorted runs, by reading ONLY the parquet
#   row groups whose min/max gk range covers a probe (the persisted run
#   index).  Probe keys are uniform hashes, so min/max pruning is
#   useless for a FULL batch (BASELINE.md r06) but the verify set is
#   SPARSE (true duplicates + Bloom false positives), which is exactly
#   when row-group statistics do prune: I/O per batch is
#   O(verify_gks x row-group), not O(corpus).
# - **Session delta** (disk, session-bounded): grams registered by THIS
#   session's committed epochs live in their own small epoch dirs,
#   probed with a plain per-batch join.
#
# Session start is O(new runs), not O(corpus) (VERDICT r7 next-round
# #1): bloomstore.ensure_artifacts folds only store epochs above the
# manifest watermark into the bitmaps (the previous session's novel
# grams) and footer-reads only files the persisted run index does not
# already cover; the first-ever session pays the one full build every
# r7 session paid.  Per-epoch, the sink appends the just-written files'
# footer entries to the persisted index (bitmap files are NOT rewritten
# per epoch — that would cost the full bitmap bytes per batch; the next
# session start folds the session's epochs).
#
# Exactly-once rides the same epoch bookkeeping as detect_and_register:
# the history cut is pinned to epochs <= the checkpoint's last committed
# batch at session start, stats/registration writes are epoch-keyed
# idempotent overwrites, and the session delta excludes the current
# epoch — so a replayed batch sees byte-identical membership answers.
# Artifacts are advisory and Bloom bits are monotone ORs over
# byte-identical replayed gram sets, so artifact maintenance that ran
# ahead of a crashed commit is idempotent (bloomstore module docstring).
# ---------------------------------------------------------------------------


def bloom_substring_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    gram_dir: str,
    stats_dir: str,
    checkpoint: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    on_batch=None,
    bloom_bytes: int | None = None,
    bits_per_gram: float = 10.0,
    max_bucket_bloom_bytes: int = 256 * 1024 * 1024,
    metrics: dict | None = None,
    compact_every: int | None = None,
    auto_compact_runs: int | None = 8,
):
    """Streaming substring-dedup stats with BOUNDED-MEMORY history (see
    section comment): per-bucket persisted Bloom bitmaps screen batch
    grams, only positives are verified by row-group point lookups into
    the sorted on-disk runs, session-novel grams are answered by the
    session's own epoch dirs.  Same output contract as
    :func:`detect_and_register`; a single batch over a whole corpus
    equals ``dedup.ngram_dup_stats(min_docs=2)``.  ``n`` is pinned to
    the checkpoint on first start: resuming with another shingle width
    raises ``ValueError``.

    ``bloom_bytes`` is an EXPLICIT fixed TOTAL bitmap budget (split
    evenly across buckets, no growth); when None each bucket is sized at
    ``bits_per_gram`` bits per gram it holds and REBUILT at the next
    power of two when it outgrows that budget, up to
    ``max_bucket_bloom_bytes`` per bucket (10 bits/gram ~ 1% false
    positives at any corpus; a bucket pinned at its cap degrades to a
    higher verify rate, never to wrong answers or more memory —
    test-pinned by the undersized-cap exactness test).  ``metrics``, if
    given, receives one dict per epoch (bloom/verify/row-group counters
    plus the session-start ``setup_*`` reconcile counters) — the probe's
    observability hook.

    ``compact_every=K`` folds the PRE-SESSION history runs (epochs below
    the session floor — never a session-registered epoch, which the
    delta probe still reads and a replayed batch overwrites) into one
    sorted run per bucket after every K-th epoch, via
    ``compact_store(below_epoch=floor)``, then reconciles the persisted
    run index against the folded files; verify row-group reads return
    to the one-run floor.  The Bloom bitmaps are membership-equivalent
    before and after a fold, so they are NOT rebuilt.  A restart after
    a mid-swap death repairs the store at session start, before the
    guards or the artifact reconcile read it.

    ``auto_compact_runs`` (default 8) is the UNATTENDED compaction
    policy (VERDICT r8 next-round #4): at session start, if any bucket's
    committed history holds MORE than this many run files (the
    persisted run index counts them — one file per touched bucket per
    epoch), the pre-session history is folded to one run per bucket
    right there, before the first batch — the same single-writer window
    a manual maintenance call uses, since the streaming query has not
    started.  Within a session the pre-session set only shrinks (the
    session's own epochs are delta-probed, not history), so a
    session-start check is the complete policy: runs/bucket is bounded
    by ``auto_compact_runs + epochs-per-session`` across ANY number of
    sessions with no manual ``compact_store`` call, and verify
    row-group reads stay capped instead of growing with session count
    (scripts/substring_stream_probe.py --auto-compact).  ``None``
    disables the policy."""
    from .stores import recover_store

    # Unconditional: a crash inside a MANUAL maintenance-window
    # compact_store swap followed by a restart WITHOUT inline
    # compaction must still be repaired before the store is read
    # (cheap glob no-op when no swap was interrupted).
    recover_store(spark, gram_dir)
    committed, store = _session_history_guards(
        spark, checkpoint, gram_dir, "bloom_substring_stream"
    )
    # n decides which grams exist: a session resumed with another width
    # would probe the history for grams it never registered.
    pin_marker(
        spark, checkpoint, "n", int(n), "bloom_substring_stream",
        "the shingle width is part of the state layout and cannot change"
        " on resume",
    )
    sc = spark.sparkContext
    desc_bc = index_bc = None
    m_bytes = k_hashes = n_hist = 0
    setup_metrics: dict = {}
    if store is not None and committed is not None:
        art = ensure_artifacts(
            spark,
            gram_dir,
            int(committed),
            bits_per_gram=bits_per_gram,
            fixed_total_bytes=bloom_bytes,
            max_bucket_bytes=max_bucket_bloom_bytes,
            n_buckets=N_BUCKETS,
            metrics=setup_metrics,
        )
        # Unattended maintenance (see docstring): fold the pre-session
        # history when any bucket's run count crossed the threshold.
        # The stream has not started, so this IS the single-writer
        # window; bitmaps are membership-equivalent across the fold and
        # only the run index is reconciled (new consolidated paths in,
        # dead paths out — no bitmap rebuild, watermark unchanged).
        runs_max = (
            max((len(v) for v in art["index"].values()), default=0)
            if art is not None
            else 0
        )
        # Observability: pre-policy committed-history runs/bucket maximum
        # (the number the unattended policy bounds) — probe-readable as
        # ``setup_runs_max`` in every epoch's metrics entry.
        setup_metrics["runs_max"] = runs_max
        if (
            auto_compact_runs is not None
            and runs_max > int(auto_compact_runs)
        ):
            from .stores import compact_store

            result = compact_store(
                spark, gram_dir, "bucket", sort_cols=["gk"],
                below_epoch=int(committed) + 1,
            )
            if result.get("compacted"):
                art = ensure_artifacts(
                    spark,
                    gram_dir,
                    int(committed),
                    bits_per_gram=bits_per_gram,
                    fixed_total_bytes=bloom_bytes,
                    max_bucket_bytes=max_bucket_bloom_bytes,
                    n_buckets=N_BUCKETS,
                )
                setup_metrics["auto_compacted_from_runs"] = runs_max
        if art is not None and art["total_grams"] > 0:
            k_hashes = art["k"]
            m_bytes = art["total_bytes"]
            n_hist = art["total_grams"]
            # Both broadcasts are MANIFEST-sized (paths + footer stats,
            # ~24 B/row group) — bitmap bytes stay on disk and are read
            # per bucket by the probe tasks.
            desc_bc = sc.broadcast(art["buckets"])
            index_bc = sc.broadcast(art["index"])
    session_epochs: set[int] = set()
    rg_reads = sc.accumulator(0)
    verify_acc = sc.accumulator(0)
    n_verify_parts = max(1, min(N_BUCKETS, sc.defaultParallelism))

    def screen_verify(pairs: DataFrame) -> DataFrame:
        """Fused Bloom screen + exact verify over bucket-partitioned
        batch grams: each task loads only its buckets' bitmap files
        (worker-cached, version-stamped names), probes the screen, and
        binary-searches the run index for candidate row groups to read
        for the (sparse) positive set."""
        k = k_hashes  # close over plain ints, not the session objects
        d_bc = desc_bc

        def probe(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            desc = d_bc.value
            idx = index_bc.value
            for pdf in it:
                if not len(pdf):
                    continue
                for b, grp in pdf.groupby("bucket"):
                    gks = np.unique(grp["gk"].to_numpy(np.int64))
                    entry = desc.get(int(b))
                    if entry is None:
                        pos = np.zeros(gks.size, dtype=bool)
                    else:
                        pos = _bloom_probe(gks, bitmap_for(entry[0]), k)
                    hit = np.zeros(gks.size, dtype=bool)
                    probes = gks[pos]
                    if probes.size:
                        verify_acc.add(int(probes.size))
                        sub = np.zeros(probes.size, dtype=bool)
                        for path, mins, maxs in idx.get(int(b), []):
                            if sub.all():
                                break
                            if mins is None:
                                pf = open_parquet(path)
                                cand = np.arange(
                                    pf.metadata.num_row_groups
                                )
                            else:
                                lo = np.searchsorted(probes, mins, "left")
                                hi = np.searchsorted(probes, maxs, "right")
                                cand = np.nonzero(hi > lo)[0]
                                pf = (
                                    open_parquet(path) if cand.size else None
                                )
                            for rg in cand:
                                col = (
                                    pf.read_row_group(
                                        int(rg), columns=["gk"]
                                    )
                                    .column("gk")
                                    .to_numpy()
                                )
                                sub |= np.isin(probes, col)
                            rg_reads.add(int(cand.size))
                        hit[pos] = sub
                    yield pd.DataFrame(
                        {
                            "gk": gks,
                            "bucket": np.full(gks.size, int(b), np.int64),
                            "bloom_pos": pos.astype(np.int32),
                            "in_hist": hit.astype(np.int32),
                        }
                    )

        return pairs.repartition(n_verify_parts, "bucket").mapInPandas(
            probe, "gk long, bucket long, bloom_pos int, in_hist int"
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal index_bc, desc_bc, k_hashes, m_bytes, n_hist
        verify_before = verify_acc.value
        # r12 (guide §2.4): materialize the shingle projection ONCE.
        # base and g were each eager-checkpointed straight off the
        # un-materialized raw, so the whole-batch word_shingles HOF
        # projection (the dominant per-batch compute) ran twice.  One
        # boundary on (id, grams, n_windows) and both derive from the
        # in-memory gram arrays instead; base needs no boundary of its
        # own (single consumer, cheap scan of the checkpoint).
        raw = spread(batch_df).select(
            F.col(id_col).cast("long").alias("id"),
            word_shingles(text_col, n).alias("grams"),
            F.greatest(
                F.size(X.word_tokens(text_col)) - F.lit(n - 1), F.lit(0)
            )
            .cast("long")
            .alias("n_windows"),
        ).localCheckpoint(eager=True)
        base = raw.select(
            "id", "n_windows", F.size("grams").cast("long").alias("n_grams")
        )
        g = (
            raw.select("id", F.explode("grams").alias("__g"))
            .select("id", F.xxhash64("__g").alias("gk"))
            .withColumn("bucket", F.pmod(F.col("gk"), F.lit(N_BUCKETS)))
            .localCheckpoint(eager=True)
        )
        batch_dup = (
            g.groupBy("gk")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") >= 2)
            .select("gk")
        )
        batch_gk = g.select("gk", "bucket").distinct()
        if desc_bc is not None:
            screened = screen_verify(batch_gk)
        else:
            screened = batch_gk.select(
                "gk",
                "bucket",
                F.lit(0).alias("bloom_pos"),
                F.lit(0).alias("in_hist"),
            )
        # Session delta: grams registered by THIS session's earlier
        # epochs (exact, session-bounded).  The current epoch is never in
        # the set, so a replayed batch cannot see its own earlier write.
        # (Delta grams are not in the pre-session bitmaps, so the fused
        # verify above only touches them at the Bloom FP rate.)
        delta_paths = [
            f"{gram_dir}/epoch={e}"
            for e in sorted(session_epochs)
            if e < int(epoch_id)
        ]
        if delta_paths:
            # basePath: with TWO OR MORE epoch dirs Spark's partition
            # discovery refuses the "conflicting directory structures"
            # it infers from sibling epoch=N roots; anchoring discovery
            # at the store root makes epoch/bucket ordinary partition
            # columns.  (Latent until a session drained 3+ micro-batches
            # — every earlier probe was one-arrival-per-session; caught
            # by the r10 steady-state probe's first run.)
            delta = (
                spark.read.option("basePath", gram_dir)
                .parquet(*delta_paths)
                .select("gk")
                .distinct()
            )
            known = screened.join(
                delta.withColumn("in_delta", F.lit(1)), "gk", "left"
            ).withColumn("in_delta", F.coalesce("in_delta", F.lit(0)))
        else:
            known = screened.withColumn("in_delta", F.lit(0))
        known = known.localCheckpoint(eager=True)
        dup_keys = (
            batch_dup.unionByName(
                known.filter(
                    (F.col("in_delta") == 1) | (F.col("in_hist") == 1)
                ).select("gk")
            )
            .distinct()
        )
        per_doc = (
            g.join(dup_keys, "gk", "left_semi")
            .groupBy("id")
            .agg(F.count("*").alias("n_dup_grams"))
        )
        stats = (
            base.join(per_doc, "id", "left")
            .select(
                F.col("id").alias(id_col),
                "n_windows",
                "n_grams",
                F.coalesce("n_dup_grams", F.lit(0))
                .cast("long")
                .alias("n_dup_grams"),
            )
            .withColumn(
                "dup_gram_ppm",
                F.when(
                    F.col("n_grams") > 0,
                    F.expr(
                        "(n_dup_grams * CAST(1000000 AS BIGINT))"
                        " div n_grams"
                    ),
                )
                .otherwise(F.lit(0))
                .cast("long"),
            )
        )
        stats.write.mode("overwrite").parquet(
            f"{stats_dir}/epoch={int(epoch_id)}"
        )
        # Register novel grams as SORTED runs: repartition puts each
        # bucket in exactly one task, the sort makes every output file a
        # gk-sorted run — tight disjoint row-group ranges for later
        # sessions' point lookups.
        novel = (
            known.filter(
                (F.col("in_hist") == 0) & (F.col("in_delta") == 0)
            )
            .select("gk", "bucket")
            .repartition(n_verify_parts, "bucket")
            .sortWithinPartitions("bucket", "gk")
        )
        if write_store_partitioned(novel, gram_dir, "bucket", epoch_id):
            _mark_store_written(spark, checkpoint)
            session_epochs.add(int(epoch_id))
            # Per-epoch index maintenance: footer-read ONLY the files
            # just written and append them to the persisted run index
            # (no-op before the first manifest exists; bitmaps fold at
            # the next session start — see section comment).
            append_run_entries(spark, gram_dir, int(epoch_id))
        if (
            compact_every is not None
            and committed is not None
            and epoch_id > 0
            and epoch_id % int(compact_every) == 0
        ):
            from .stores import compact_store

            floor = int(committed) + 1
            result = compact_store(
                spark, gram_dir, "bucket", sort_cols=["gk"],
                below_epoch=floor,
            )
            if result.get("compacted"):
                # Reconcile the PERSISTED index against the folded files
                # (dead run entries dropped, consolidated runs footer-
                # read once) and refresh BOTH live broadcasts from it:
                # if the reconcile folded pending epochs it wrote new
                # version-stamped bitmap files and GC'd the old ones, so
                # a stale bucket-descriptor broadcast would point probe
                # tasks at deleted files (r8 review finding).
                art2 = ensure_artifacts(
                    spark,
                    gram_dir,
                    int(committed),
                    bits_per_gram=bits_per_gram,
                    fixed_total_bytes=bloom_bytes,
                    max_bucket_bytes=max_bucket_bloom_bytes,
                    n_buckets=N_BUCKETS,
                )
                old_i, old_d = index_bc, desc_bc
                index_bc = sc.broadcast(
                    {} if art2 is None else art2["index"]
                )
                desc_bc = sc.broadcast(
                    {} if art2 is None else art2["buckets"]
                )
                if art2 is not None:
                    k_hashes = art2["k"]
                    m_bytes = art2["total_bytes"]
                    n_hist = art2["total_grams"]
                for old in (old_i, old_d):
                    if old is not None:
                        old.unpersist()
        if metrics is not None:
            entry = {
                "bloom_bytes": m_bytes,
                "k_hashes": k_hashes,
                "hist_grams": n_hist,
                "batch_gks": known.count(),
                "verify_gks": verify_acc.value - verify_before,
                "rg_reads_total": rg_reads.value,
            }
            for sk, sv in setup_metrics.items():
                entry[f"setup_{sk}"] = sv
            metrics[int(epoch_id)] = entry
        if on_batch is not None:
            on_batch(epoch_id)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", int(max_files_per_trigger)
        )
    return (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
