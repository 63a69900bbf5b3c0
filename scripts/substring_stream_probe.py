"""Probe for the bounded-memory substring-dedup stream
(``streaming/substring.bloom_substring_stream``).

Run: ``python scripts/substring_stream_probe.py MODE [N1] [N2]``; each
mode prints one JSON line.  N1 and N2 must be integers >= 1; an unknown
or missing MODE exits non-zero with a usage line.

``--bloom`` (r07, N1 = n_seed, N2 = n_batch): per-batch wall,
session-setup cost (bitmap + run index), the explicit bloom-bitmap cap,
verify-set size and parquet row-group reads at three corpus sizes — the
numbers that show per-batch history cost does not grow with the corpus
(no cached snapshot, no corpus-sized state anywhere).

``--artifacts`` (r08, n_seed, n_batch): session-start cost with the
incremental per-bucket bitmap + run index reconcile (O(increment), flat)
against the cold full-rebuild arm (paid once ever).

``--fp`` (r08, n_seed, n_batch): the Bloom FP-degradation COST curve:
fresh arrivals under deliberately exceeded bits/gram budgets (10 / 2 /
0.5), recording verify-set fraction, row-group reads and per-batch wall.

``--steady-state`` (r10, n_docs, n_batches) and ``--auto-compact`` (r09,
n_sessions, n_batch): see their functions below.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    get_spark,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (  # noqa: E402
    substring as SB,
)
from scripts.semdedup_probe import boilerplate_docs  # noqa: E402


def _bloom_main(n_seed: int, n_batch: int) -> None:
    """Bounded-memory form probe: per-batch wall, the EXPLICIT memory cap
    (bloom bitmap bytes), verify-set size and row-group reads at 3 corpus
    sizes — the numbers that show history cost does NOT grow with the
    corpus (VERDICT r06 next-round #1).  Session setup (bitmap + run
    index, one store pass) is timed separately from the arrival batch."""
    spark = get_spark(app_name="substring-stream-probe-bloom")
    results: dict = {"form": "bloom", "n_seed": n_seed, "n_batch": n_batch}
    sizes = [n_seed // 3, 2 * n_seed // 3, n_seed]
    all_docs = boilerplate_docs(spark, n_seed + 3 * n_batch).cache()
    all_docs.count()
    schema = "doc_id long, text string"

    tmp = tempfile.mkdtemp(prefix="substr_probe_bloom_")
    try:
        src = f"{tmp}/src"
        gram_d, s_d, ckpt = f"{tmp}/grams", f"{tmp}/stats", f"{tmp}/ckpt"
        steps = []
        prev = 0
        for i, sz in enumerate(sizes):
            all_docs.filter(
                f"doc_id >= {prev} AND doc_id < {sz}"
            ).write.mode("append").parquet(src)
            prev = sz
            q = SB.bloom_substring_stream(
                spark, src, schema, gram_d, s_d, ckpt, n=8
            )
            q.awaitTermination()  # seed session for this increment
            lo = n_seed + i * n_batch
            all_docs.filter(
                f"doc_id >= {lo} AND doc_id < {lo + n_batch}"
            ).write.mode("append").parquet(src)
            metrics: dict = {}
            t0 = time.time()
            q = SB.bloom_substring_stream(
                spark, src, schema, gram_d, s_d, ckpt, n=8, metrics=metrics
            )
            setup = round(time.time() - t0, 2)
            q.awaitTermination()
            wall = round(time.time() - t0 - setup, 2)
            (m,) = metrics.values()
            steps.append(
                {
                    "corpus_docs": sz + i * n_batch,
                    "store_grams": m["hist_grams"],
                    "setup_sec": setup,
                    "batch_sec": wall,
                    "bloom_bytes": m["bloom_bytes"],
                    "k_hashes": m["k_hashes"],
                    "batch_gks": m["batch_gks"],
                    "verify_gks": m["verify_gks"],
                    "rg_reads": m["rg_reads_total"],
                }
            )
        results["steps"] = steps
        # Compaction folds the accumulated per-epoch runs to ONE sorted
        # run per bucket; row-group reads per verify are proportional to
        # run count, so the post-compaction arrival shows the floor.
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (  # noqa: E501
            stores,
        )

        t0 = time.time()
        results["compact"] = stores.compact_store(
            spark, gram_d, "bucket", sort_cols=["gk"]
        )
        results["compact_sec"] = round(time.time() - t0, 2)
        lo = n_seed + 3 * n_batch
        boilerplate_docs(spark, lo + n_batch).filter(
            f"doc_id >= {lo}"
        ).write.mode("append").parquet(src)
        metrics2: dict = {}
        t0 = time.time()
        q = SB.bloom_substring_stream(
            spark, src, schema, gram_d, s_d, ckpt, n=8, metrics=metrics2
        )
        setup = round(time.time() - t0, 2)
        q.awaitTermination()
        (m2,) = metrics2.values()
        results["post_compact_step"] = {
            "setup_sec": setup,
            "batch_sec": round(time.time() - t0 - setup, 2),
            "verify_gks": m2["verify_gks"],
            "rg_reads": m2["rg_reads_total"],
        }
        flagged = (
            spark.read.parquet(s_d).filter("n_dup_grams > 0").count()
        )
        results["flagged"] = flagged
        results["expected_flagged"] = (n_seed + 4 * n_batch) // 10
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(results))


def _artifacts_main(n_seed: int, n_batch: int) -> None:
    """Bloom-ARTIFACT probe (r08, VERDICT r07 next-round #1): the bloom
    form's session-start cost with persisted per-bucket bitmaps + run
    index (streaming/bloomstore.py).  Cumulative seeding in 3 sessions;
    after each, a FRESH arrival session is timed with its setup (the
    artifact reconcile) split from the batch — the reconcile folds ONLY
    the previous session's epochs, so setup is O(increment), flat across
    corpus growth, vs the r7 full-store pass (50-95 s at 4.1M docs,
    corpus-linear).  A final arm deletes the artifact dir and re-times
    one arrival: the cold full-rebuild (the r7 per-session cost, paid
    once ever under artifacts).  Records per-step setup/batch wall, the
    reconcile counters, and total/max per-bucket bitmap bytes."""
    import json as _json

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (  # noqa: E501
        bloomstore as BS,
    )

    spark = get_spark(app_name="substring-stream-probe-artifacts")
    results: dict = {
        "form": "bloom-artifacts", "n_seed": n_seed, "n_batch": n_batch,
    }
    sizes = [n_seed // 3, 2 * n_seed // 3, n_seed]
    all_docs = boilerplate_docs(spark, n_seed + 4 * n_batch).cache()
    all_docs.count()
    schema = "doc_id long, text string"
    tmp = tempfile.mkdtemp(prefix="substr_probe_artifacts_")
    try:
        src = f"{tmp}/src"
        gram_d, s_d, ckpt = f"{tmp}/grams", f"{tmp}/stats", f"{tmp}/ckpt"
        steps = []
        prev = 0
        for i, sz in enumerate(sizes):
            all_docs.filter(
                f"doc_id >= {prev} AND doc_id < {sz}"
            ).write.mode("append").parquet(src)
            prev = sz
            q = SB.bloom_substring_stream(
                spark, src, schema, gram_d, s_d, ckpt, n=8
            )
            q.awaitTermination()  # seed session for this increment
            lo = n_seed + i * n_batch
            all_docs.filter(
                f"doc_id >= {lo} AND doc_id < {lo + n_batch}"
            ).write.mode("append").parquet(src)
            metrics: dict = {}
            t0 = time.time()
            q = SB.bloom_substring_stream(
                spark, src, schema, gram_d, s_d, ckpt, n=8, metrics=metrics
            )
            setup = round(time.time() - t0, 2)
            q.awaitTermination()
            wall = round(time.time() - t0 - setup, 2)
            (m,) = metrics.values()
            with open(f"{BS.meta_dir_for(gram_d)}/manifest.json") as f:
                man = _json.load(f)
            bucket_bytes = [v["m_bytes"] for v in man["buckets"].values()]
            steps.append(
                {
                    "corpus_docs": sz + i * n_batch,
                    "store_grams": m["hist_grams"],
                    "setup_sec": setup,
                    "batch_sec": wall,
                    "bloom_bytes_total": m["bloom_bytes"],
                    "bucket_bytes_max": max(bucket_bytes),
                    "n_buckets_with_bitmap": len(bucket_bytes),
                    "k_hashes": m["k_hashes"],
                    "folded_epochs": m.get("setup_folded_epochs"),
                    "new_index_files": m.get("setup_new_index_files"),
                    "rebuilt_buckets": m.get("setup_rebuilt_buckets"),
                    "verify_gks": m["verify_gks"],
                    "rg_reads_total": m["rg_reads_total"],
                }
            )
        results["steps"] = steps
        # Cold contrast: drop the artifacts, one arrival pays the full
        # rebuild (the r7 per-session cost).
        shutil.rmtree(BS.meta_dir_for(gram_d), ignore_errors=True)
        lo = n_seed + 3 * n_batch
        all_docs.filter(
            f"doc_id >= {lo} AND doc_id < {lo + n_batch}"
        ).write.mode("append").parquet(src)
        metrics2: dict = {}
        t0 = time.time()
        q = SB.bloom_substring_stream(
            spark, src, schema, gram_d, s_d, ckpt, n=8, metrics=metrics2
        )
        setup = round(time.time() - t0, 2)
        q.awaitTermination()
        (m2,) = metrics2.values()
        results["cold_rebuild"] = {
            "setup_sec": setup,
            "batch_sec": round(time.time() - t0 - setup, 2),
            "folded_epochs": m2.get("setup_folded_epochs"),
            "new_index_files": m2.get("setup_new_index_files"),
        }
        flagged = (
            spark.read.parquet(s_d).filter("n_dup_grams > 0").count()
        )
        results["flagged"] = flagged
        results["expected_flagged"] = (n_seed + 4 * n_batch) // 10
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(results))


def _fp_main(n_seed: int, n_batch: int) -> None:
    """Bloom FP-DEGRADATION probe (r08, VERDICT r07 next-round #7): the
    undersized-cap exactness is test-pinned; this measures the COST
    curve as the bits/gram budget is deliberately exceeded.  One seed
    session at default sizing, then one fresh arrival per budget arm
    (10 / 2 / 0.5 bits per gram, forced via the fixed total
    ``bloom_bytes``), recording verify-set size, row-group reads and
    per-batch wall — the numbers that justify the per-bucket budget
    (bloomstore growth rebuild) as the FP-rate bound at scale."""
    spark = get_spark(app_name="substring-stream-probe-fp")
    results: dict = {"form": "bloom-fp", "n_seed": n_seed, "n_batch": n_batch}
    arms_bpg = (10.0, 10.0, 2.0, 0.5)  # first arm = JIT warm-up, kept
    all_docs = boilerplate_docs(
        spark, n_seed + len(arms_bpg) * n_batch
    ).cache()
    all_docs.count()
    schema = "doc_id long, text string"
    tmp = tempfile.mkdtemp(prefix="substr_probe_fp_")
    try:
        src = f"{tmp}/src"
        gram_d, s_d, ckpt = f"{tmp}/grams", f"{tmp}/stats", f"{tmp}/ckpt"
        all_docs.filter(f"doc_id < {n_seed}").write.mode(
            "append"
        ).parquet(src)
        q = SB.bloom_substring_stream(
            spark, src, schema, gram_d, s_d, ckpt, n=8
        )
        q.awaitTermination()
        n_grams = spark.read.parquet(gram_d).count()
        results["store_grams"] = n_grams
        arms = []
        for i, bpg in enumerate(arms_bpg):
            lo = n_seed + i * n_batch
            all_docs.filter(
                f"doc_id >= {lo} AND doc_id < {lo + n_batch}"
            ).write.mode("append").parquet(src)
            metrics: dict = {}
            t0 = time.time()
            q = SB.bloom_substring_stream(
                spark, src, schema, gram_d, s_d, ckpt, n=8,
                bloom_bytes=max(64, int(n_grams * bpg / 8)),
                metrics=metrics,
            )
            setup = round(time.time() - t0, 2)
            q.awaitTermination()
            wall = round(time.time() - t0 - setup, 2)
            (m,) = metrics.values()
            arms.append(
                {
                    "bits_per_gram": bpg,
                    "bloom_bytes": m["bloom_bytes"],
                    "setup_sec": setup,
                    "batch_sec": wall,
                    "batch_gks": m["batch_gks"],
                    "verify_gks": m["verify_gks"],
                    "verify_frac": round(
                        m["verify_gks"] / max(1, m["batch_gks"]), 4
                    ),
                    "rg_reads_total": m["rg_reads_total"],
                }
            )
        results["arms"] = arms
        flagged = (
            spark.read.parquet(s_d).filter("n_dup_grams > 0").count()
        )
        results["flagged"] = flagged
        results["expected_flagged"] = (n_seed + len(arms_bpg) * n_batch) // 10
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(results))


def _steady_state_main(n_docs: int, n_batches: int) -> None:
    """STEADY-STATE many-batch session probe (r10, VERDICT r9 next-round
    #8): every recorded bloom number so far is one-arrival-per-session,
    so the design's amortization claim (session setup ÷ N batches) had no
    multi-batch datapoint.  One ``bloom_substring_stream`` session drains
    the whole corpus as ``n_batches`` micro-batches
    (``maxFilesPerTrigger=1`` over an ``n_batches``-file source),
    recording per-batch wall (via the ``on_batch`` hook), the per-epoch
    verify/row-group counters, and the Bloom state footprint
    (``bloom_bytes`` / ``hist_grams``) — the claim under test: per-batch
    cost is FLAT within a session (history grows, but the session's own
    epochs answer session-novel grams and the Bloom screen keeps the
    verify set proportional to true overlap), and state bytes grow
    sub-linearly with drained grams.

    Run: ``python scripts/substring_stream_probe.py [n_docs] [n_batches]
    --steady-state`` (default 1,200,000 / 12).
    """
    spark = get_spark(app_name="substring-stream-probe-steady")
    n_seed = n_docs // 2
    results: dict = {
        "form": "steady-state", "n_docs": n_docs, "n_seed": n_seed,
        "n_batches": n_batches,
    }
    docs = boilerplate_docs(spark, n_docs)
    schema = "doc_id long, text string"
    tmp = tempfile.mkdtemp(prefix="substr_probe_ss_")
    try:
        src = f"{tmp}/src"
        gram_d, s_d, ckpt = f"{tmp}/grams", f"{tmp}/stats", f"{tmp}/ckpt"
        # Session 1 seeds the committed history (one drain over the first
        # half), so session 2's batches exercise the FULL tier stack —
        # Bloom screen over persisted bitmaps + row-group verify + session
        # delta — not the fresh-store degenerate case.
        docs.filter(F.col("doc_id") < n_seed).coalesce(8).write.parquet(
            src
        )
        t0 = time.time()
        q = SB.bloom_substring_stream(
            spark, src, schema, gram_d, s_d, ckpt, n=8
        )
        q.awaitTermination()
        results["seed_session_sec"] = round(time.time() - t0, 2)

        # Session 2: the second half as n_batches id-contiguous files,
        # drained one file per micro-batch (the real ingest cadence).
        docs.filter(F.col("doc_id") >= n_seed).repartitionByRange(
            n_batches, "doc_id"
        ).write.mode("append").parquet(src)
        walls: list[float] = []
        last = [time.time()]

        def on_batch(epoch_id):
            now = time.time()
            walls.append(round(now - last[0], 2))
            last[0] = now

        metrics: dict = {}
        t0 = time.time()
        q = SB.bloom_substring_stream(
            spark, src, schema, gram_d, s_d, ckpt, n=8,
            max_files_per_trigger=1, on_batch=on_batch, metrics=metrics,
        )
        q.awaitTermination()
        results["session_sec"] = round(time.time() - t0, 2)
        results["n_epochs"] = len(metrics)
        results["per_batch_sec"] = walls
        results["per_epoch"] = [
            {
                "epoch": e,
                "batch_gks": m["batch_gks"],
                "verify_gks": m["verify_gks"],
                "rg_reads_total": m["rg_reads_total"],
                "bloom_bytes": m["bloom_bytes"],
                "hist_grams": m["hist_grams"],
            }
            for e, m in sorted(metrics.items())
        ]
        flagged = spark.read.parquet(s_d).filter("n_dup_grams > 0").count()
        results["flagged"] = flagged
        results["expected_flagged"] = n_docs // 10
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(results))


def _auto_compact_main(n_sessions: int, n_batch: int) -> None:
    """UNATTENDED-compaction probe (r09, VERDICT r08 next-round #4 "Done"
    evidence): drive ``n_sessions`` single-arrival sessions into one
    store with the runs-per-bucket policy ON (threshold 4) and, as the
    control arm, OFF (``auto_compact_runs=None``) — recording per session
    the pre-policy committed-history runs/bucket maximum, whether the
    policy fired, the arrival's verify parquet row-group reads, and
    setup/batch wall.  The claim under test: with the policy ON the
    row-group reads and runs/bucket stay CAPPED across any number of
    sessions nobody babysits; OFF they grow with session count.

    Run: ``python scripts/substring_stream_probe.py [n_sessions]
    [n_batch] --auto-compact``.
    """
    spark = get_spark(app_name="substring-stream-probe-auto-compact")
    results: dict = {
        "form": "auto-compact",
        "n_sessions": n_sessions,
        "n_batch": n_batch,
    }
    all_docs = boilerplate_docs(spark, n_sessions * n_batch).cache()
    all_docs.count()
    schema = "doc_id long, text string"
    tmp = tempfile.mkdtemp(prefix="substr_probe_ac_")
    try:
        # "policy_default" passes NO knob at all — the r10 arm proving the
        # unattended guarantee holds for a caller who never heard of the
        # parameter (VERDICT r9 next-round #5: "an unattended guarantee
        # that requires a knob isn't unattended").
        arms = (("policy_default", "DEFAULT"), ("policy_on", 4),
                ("policy_off", None))
        for arm, policy in arms:
            src = f"{tmp}/{arm}/src"
            gram_d = f"{tmp}/{arm}/grams"
            s_d, ckpt = f"{tmp}/{arm}/stats", f"{tmp}/{arm}/ckpt"
            sessions = []
            for s in range(n_sessions):
                lo = s * n_batch
                all_docs.filter(
                    f"doc_id >= {lo} AND doc_id < {lo + n_batch}"
                ).write.mode("append").parquet(src)
                metrics: dict = {}
                kw = {} if policy == "DEFAULT" else {
                    "auto_compact_runs": policy
                }
                t0 = time.time()
                q = SB.bloom_substring_stream(
                    spark, src, schema, gram_d, s_d, ckpt, n=8,
                    metrics=metrics, **kw,
                )
                setup = round(time.time() - t0, 2)
                q.awaitTermination()
                wall = round(time.time() - t0 - setup, 2)
                m = metrics[max(metrics)] if metrics else {}
                sessions.append(
                    {
                        "session": s,
                        "setup_sec": setup,
                        "batch_sec": wall,
                        "runs_max_before": m.get("setup_runs_max"),
                        "fired": "setup_auto_compacted_from_runs" in m,
                        "rg_reads": m.get("rg_reads_total"),
                        "verify_gks": m.get("verify_gks"),
                    }
                )
            results[arm] = sessions
        for arm in ("policy_on", "policy_default"):
            flagged = spark.read.parquet(f"{tmp}/{arm}/stats").filter(
                "n_dup_grams > 0"
            ).count()
            results[f"flagged_{arm}"] = flagged
        results["expected_flagged"] = (n_sessions * n_batch) // 10
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(results))

# mode flag -> (probe, default N1, default N2)
MODES = {
    "--bloom": (_bloom_main, 900_000, 100_000),
    "--artifacts": (_artifacts_main, 900_000, 100_000),
    "--fp": (_fp_main, 900_000, 100_000),
    "--steady-state": (_steady_state_main, 1_200_000, 12),
    "--auto-compact": (_auto_compact_main, 8, 30_000),
}
USAGE = (
    "usage: python scripts/substring_stream_probe.py"
    f" {{{'|'.join(MODES)}}} [N1] [N2]  (integers >= 1)"
)


def parse_args(argv: list[str]):
    """``(probe, N1, N2)`` from the command line; exits non-zero with the
    usage line before any Spark start when the arguments are bad."""
    flags = [a for a in argv if a.startswith("--")]
    nums = [a for a in argv if not a.startswith("--")]
    if len(flags) != 1 or flags[0] not in MODES:
        sys.exit(f"{USAGE}\nerror: give exactly one known mode flag")
    if len(nums) > 2:
        sys.exit(f"{USAGE}\nerror: at most two numbers")
    probe, *defaults = MODES[flags[0]]
    try:
        n1, n2 = [int(a) for a in nums] + defaults[len(nums):]
    except ValueError:
        sys.exit(f"{USAGE}\nerror: N1 and N2 must be integers")
    if n1 < 1 or n2 < 1:
        sys.exit(f"{USAGE}\nerror: N1 and N2 must be >= 1")
    return probe, n1, n2


def main() -> None:
    probe, n1, n2 = parse_args(sys.argv[1:])
    probe(n1, n2)


if __name__ == "__main__":
    main()
