"""Benchmark harness — run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print the
full result JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} followed by a compact
{"metric": "bench_summary", ...} line as the LAST stdout line — the
driver artifact keeps only the final 2,000 chars of stdout, so the
summary line guarantees the headline/pipeline totals and loadavg context
survive even when the full line is truncated (VERDICT r10 #4).  Since
r13 the summary line ALSO carries `value`/`queries` (the merged
per-query minima) so the driver's PERF comparator and scaling block can
read per-query seconds from the tail (VERDICT r12 #1).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    get_spark,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    queries as Q,
)

def _scratch(prefix: str) -> str:
    """Scratch dir removed at interpreter exit — streaming results are
    returned as lazy scans, so the backing files must outlive the timed
    call.  Delegates to the one implementation (queries._gallery_scratch)."""
    return Q._gallery_scratch(prefix)


def _q_quality_classifier_1iter(spark, sf_dir):
    """One full-batch logistic-regression iteration + corpus re-score
    (operators/selection.train_logreg_hashed): the per-iteration cost of
    the quality-classifier trainer — feature build, cached scan, sparse
    partial gradients, O(m) combine, scoring join — without the 12x
    repeat the driver query pays (iters are homogeneous, so 1 iter is
    the regression-sensitive unit)."""
    from pyspark.sql import functions as F

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (  # noqa: E501
        selection as SEL,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (  # noqa: E501
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.withColumn("y", (F.col("lang") == F.lit("en")).cast("int"))
    w, b, _losses = SEL.train_logreg_hashed(
        labeled, "y", m=256, iters=1, lr=1.0, l2=1e-4
    )
    return SEL.score_hashed_linear(docs, w, m=256, bias=b)


def _q_bloom_stream_arrival(spark, sf_dir):
    """One bloom-substring-stream session over the whole documents fixture
    (streaming/substring.bloom_substring_stream, one availableNow drain
    into fresh state) — the per-arrival cost of the bounded-memory
    incremental substring-dedup path: source write, stream plan, Bloom
    build, run registration, stats emit.  The scripts/
    substring_stream_probe.py one-batch mode as a recorded bench row."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (  # noqa: E501
        substring as SB,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (  # noqa: E501
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = _scratch("bench_bloom_")
    docs.write.parquet(f"{tmp}/src")
    q = SB.bloom_substring_stream(
        spark,
        f"{tmp}/src",
        "doc_id long, text string",
        f"{tmp}/grams",
        f"{tmp}/stats",
        f"{tmp}/ckpt",
        n=8,
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/stats")


def _q_ivfpq_search(spark, sf_dir):
    """IVFADC+R end-to-end (operators/quant.IVFPQIndex): coarse k-means +
    residual PQ codebook fit + code table build, then a 32-probe ADC
    shortlist search with exact refine — the ann_recall_report 'ivfpq'
    method as its own timed row (the 100 TB serving composition
    BASELINE.md names)."""
    from pyspark.sql import functions as F

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (  # noqa: E501
        quant as Qz,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (  # noqa: E501
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    idx = Qz.IVFPQIndex(emb, k_clusters=8, m=8, codes=64)
    shortlist = idx.search_many(probes, shortlist=50, nprobe=2)
    return Qz.PQCodebook.refine(shortlist, emb, probes, k=5)


def _pipeline_queries() -> dict:
    """The FROZEN pipeline-bench suite (VERDICT r8 next-round #1): the
    r3-r8 LLM-data-pipeline operators, recorded per-round beside the
    headline 26 so a wall-clock regression in semdedup / selection /
    curation / bloom-stream / IVFPQ shows in BENCH_r{N}.json, not only
    in hand-run probes.  Same methodology (3 passes, per-query min, noop
    sink).  Do not edit members — comparability across rounds is the
    point; add new operators as NEW names.

    r10 adds ONE new member (``curation_v2_pipeline`` — the composed
    gopher -> ccnet -> dedup -> leakage-split -> DSIR run, VERDICT r9
    next-round #1).  Per the suite-growth rule, BENCH_r10 reports both
    totals: ``value`` covers all members, ``value_r9_members`` the
    original frozen seven — comparable to BENCH_r08/r09's
    pipeline_suite.value."""
    return {
        "semantic_dedup_fixed_centroids": Q.QUERIES[
            "semantic_dedup_fixed_centroids"
        ],
        "dsir_select": Q.QUERIES["dsir_select"],
        "quality_classifier_1iter": _q_quality_classifier_1iter,
        "minhash_lsh_pairs": Q.QUERIES["minhash_lsh_pairs"],
        "corpus_curation_pipeline": Q.QUERIES["corpus_curation_pipeline"],
        "bloom_stream_arrival": _q_bloom_stream_arrival,
        "ivfpq_search": _q_ivfpq_search,
        # r10 member — NOT part of the r8/r9-comparable frozen seven.
        "curation_v2_pipeline": Q.QUERIES["curation_v2_pipeline"],
        # r11 member — v3 composition: + span-strip stage and the live
        # stop-word gate (deterministic overlay).  New name per the
        # suite-growth rule; the 8-member total stays comparable via
        # value_r10_members.
        "curation_v3_pipeline": Q.QUERIES["curation_v3_pipeline"],
    }


# The original frozen members (BENCH_r08/r09-comparable); later additions
# are excluded from the cross-round-comparable subtotal.
PIPELINE_FROZEN_R9 = [
    "semantic_dedup_fixed_centroids",
    "dsir_select",
    "quality_classifier_1iter",
    "minhash_lsh_pairs",
    "corpus_curation_pipeline",
    "bloom_stream_arrival",
    "ivfpq_search",
]

# The r10 8-member set (BENCH_r10-comparable; BASELINE.md band
# 40.3–41.0 s) — the suite gained curation_v3_pipeline in r11, so this
# subtotal keeps the r10 band meaningful.
PIPELINE_FROZEN_R10 = PIPELINE_FROZEN_R9 + ["curation_v2_pipeline"]


# ---------------------------------------------------------------------------
# Contention self-adjudication (VERDICT r9 next-round #2).
#
# BENCH_r09 recorded 34.91 s at a HEAD that measures 24.3 s idle — the
# artifact alone could not show that the delta was shared-host contention
# (uniform ~1.25x inflation) rather than a plan regression.  Three fixes:
#
# 1. **Load context**: os.getloadavg() is recorded before every pass (and
#    at start/end) into the JSON — a reader sees whether passes ran on a
#    loaded host without re-running anything.
# 2. **Pass spreads**: every per-query sample is kept (``samples``), not
#    just the min — contention shows as a wide spread whose min is normal;
#    a regression shows as a tight spread uniformly above band.
# 3. **Band-triggered retries**: when a query's min-of-3 still exceeds
#    1.5x its recorded idle band level (below), bench spends up to 2
#    extra passes on JUST that query — materially raising the odds the
#    artifact itself catches an uncontended window instead of requiring a
#    manual idle re-run.  Retry counts are recorded (``retries``), and
#    queries still over band after retries are flagged (``over_band``)
#    with their min/band ratio.
#
# Band levels are the best recorded idle minima at sf0.1 (BENCH_r08's
# artifact + the r9 idle A/B adjudication, BASELINE.md) — REFERENCE data
# for retry triggering only; they do not alter any reported timing.  A
# query without a band (first recording) never triggers retries.
# ---------------------------------------------------------------------------

IDLE_BAND_SF01 = {
    "knn_l2_top5": 0.25,
    "knn_cosine_top5": 0.24,
    "knn_join_l2": 0.61,
    # r11: the in-row alt-path witness (VERDICT r10 #3) added two bounded
    # collects (one native-kNN snapshot, one Arrow/NumPy-kNN pass) on top
    # of the former 1.13 s level — measured min-of-3 2.46 s at sf0.1
    # (loadavg ~7); intentional, not a regression.
    "flagship_rag_search": 2.46,
    "tpch_q1_pricing_summary": 1.40,
    "tpch_q3_shipping_priority": 0.55,
    "tpch_q5_local_supplier_volume": 0.78,
    "tpch_q6_forecast_revenue": 0.23,
    "tpch_q10_returned_items": 0.62,
    "tpch_q13_custdist": 0.50,
    "tpch_q18_large_volume_customers": 1.40,
    "window_top_orders_per_customer": 0.56,
    "window_running_total": 0.55,
    "agg_rollup_lineitem": 0.94,
    "events_tumbling_agg": 0.64,
    "events_sliding_window": 0.93,
    "sessionize_events": 0.61,
    "asof_join_last_click_before_purchase": 0.38,
    "dedup_exact": 0.47,
    "token_frequencies_top100": 0.48,
    "doc_quality_scores": 0.51,
    "doc_rolling_fingerprints": 0.79,
    # r12: the InferFiltersFromGenerate exclusion removed the second
    # interpreted word_shingles pass (OPTIMIZATION_r12.md §7) — idle
    # min-of-3 0.92 s; band pinned at the 1.6 s contended-floor
    # recording (loadavg 4-8 full-bench min) so a mildly loaded driver
    # host does not false-flag.  Old level 4.01 s.
    "jaccard_similar_pairs": 1.6,
    "minhash_lsh_pairs": 1.45,
    "embedding_near_dup": 1.17,
    "chunk_explode": 0.54,
    # pipeline suite (r9 recorded idle levels; r12 re-pins below where a
    # structural change moved the floor — each from two r12 datapoints,
    # the in-session A/B min and the final full-bench min, taking the
    # HIGHER so contended driver runs do not false-flag).
    # r12: components size dispatch (OPTIMIZATION_r12.md §8) — A/B min
    # 2.70 s, final bench 2.15 s.  Old level 4.14 s.
    "semantic_dedup_fixed_centroids": 2.7,
    "dsir_select": 2.27,
    "quality_classifier_1iter": 2.59,
    # r12: generator-filter exclusion + components dispatch — A/B min
    # 2.72 s, final bench 2.78 s.  Old level 9.08 s.
    "corpus_curation_pipeline": 2.8,
    # r12: single-pass batch shingle projection (§4) — best recorded
    # 4.2 s idle, 4.26-4.91 s across the three full benches.
    "bloom_stream_arrival": 4.3,
    "ivfpq_search": 5.10,
    # r10 member 12.9; r12: components-star single materialization (§1),
    # gate staging (§2), generator-filter exclusion (§7), components
    # dispatch (§8) — idle 4.71 s (loadavg ~0-3), full-bench mins
    # 6.70-7.62 s (loadavg 4-10).  Band = the contended floor.
    "curation_v2_pipeline": 6.7,
    # r11 member 12.96; r12 (same changes + always-on strip boundary):
    # idle 5.06 s, full-bench mins 7.71-9.65 s.  Band = contended floor.
    "curation_v3_pipeline": 7.8,
}

RETRY_TRIGGER = 1.5  # min > 1.5x band -> extra passes
MAX_RETRIES = 2


def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover — non-POSIX fallback
        return []


def _timed_passes(
    spark,
    sf_dir: str,
    fns: list,
    label: str,
    use_band: bool,
    rounds: int = 3,
) -> tuple[dict, dict, list, dict]:
    """Run ``rounds`` full passes over ``fns`` (list of (name, fn)), then
    band-triggered targeted retries.  Returns (min_timings, samples,
    per-pass loadavgs, retry_counts)."""
    samples: dict[str, list[float]] = {n: [] for n, _ in fns}
    loads: list[list[float]] = []

    def one(name, fn):
        t0 = time.time()
        df = fn(spark, sf_dir)
        # Materialize through the noop sink: count() lets Catalyst prune
        # projected columns and drop sorts, so map-only plans would be
        # timed without executing their expressions.  noop evaluates
        # every output column of every row and discards the bytes.
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    for rnd in range(rounds):
        # Each pass pays the full pipeline cost (chunk+embed UDFs) —
        # otherwise pass 2's flagship would just read the ingest cache.
        Q.clear_ingest_cache()
        loads.append(_loadavg())
        for name, fn in fns:
            elapsed = one(name, fn)
            samples[name].append(elapsed)
            print(f"# {label} pass{rnd} {name}: {elapsed:.2f}s", file=sys.stderr)

    retries: dict[str, int] = {}
    if use_band:
        over = [
            (n, f)
            for n, f in fns
            if n in IDLE_BAND_SF01
            and min(samples[n]) > RETRY_TRIGGER * IDLE_BAND_SF01[n]
        ]
        for attempt in range(MAX_RETRIES):
            if not over:
                break
            Q.clear_ingest_cache()
            loads.append(_loadavg())
            still = []
            for name, fn in over:
                elapsed = one(name, fn)
                samples[name].append(elapsed)
                retries[name] = retries.get(name, 0) + 1
                print(
                    f"# {label} retry{attempt} {name}: {elapsed:.2f}s"
                    f" (band {IDLE_BAND_SF01[name]:.2f}s)",
                    file=sys.stderr,
                )
                if min(samples[name]) > RETRY_TRIGGER * IDLE_BAND_SF01[name]:
                    still.append((name, fn))
            over = still

    timings = {n: min(v) for n, v in samples.items()}
    return timings, samples, loads, retries


def _over_band(timings: dict) -> dict:
    """min/band ratio for queries still above the retry trigger — the
    JSON's 'look here' flag: tight spread + low load + over_band = real
    regression; wide spread or high load = contention."""
    return {
        n: round(t / IDLE_BAND_SF01[n], 2)
        for n, t in timings.items()
        if n in IDLE_BAND_SF01 and t > RETRY_TRIGGER * IDLE_BAND_SF01[n]
    }


HEADLINE = [
    "knn_l2_top5",
    "knn_cosine_top5",
    "knn_join_l2",
    "flagship_rag_search",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q13_custdist",
    "tpch_q18_large_volume_customers",
    "window_top_orders_per_customer",
    "window_running_total",
    "agg_rollup_lineitem",
    "events_tumbling_agg",
    "events_sliding_window",
    "sessionize_events",
    "asof_join_last_click_before_purchase",
    "dedup_exact",
    "token_frequencies_top100",
    "doc_quality_scores",
    "doc_rolling_fingerprints",
    "jaccard_similar_pairs",
    "minhash_lsh_pairs",
    "embedding_near_dup",
    "chunk_explode",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(app_name="bench")
    # Warm the JVM/session so the first measured query doesn't pay startup.
    spark.range(1000).selectExpr("sum(id)").collect()

    # Warm-up sweeps at the smaller fixtures: every headline query once at
    # sf0.001 compiles its generated code, and once more at sf0.01 so the
    # interpreted higher-order-function kernels run enough invocations for
    # C2 to actually compile them (the cosine range join's zip_with dot
    # alone costs tens of seconds cold vs ~2.5 s warm; a 60-row sf0.001
    # pass does not cross the C2 invocation threshold).  This measures the
    # PLAN at the target sf, not the JVM's cold-start lottery.
    parent = os.path.dirname(sf_dir.rstrip("/"))
    pipeline = _pipeline_queries()
    for warm_sf in ("sf0.001", "sf0.01"):
        warm_dir = os.path.join(parent, warm_sf)
        if not os.path.isdir(warm_dir) or warm_dir == sf_dir.rstrip("/"):
            continue
        warm_fns = [(n, Q.QUERIES[n]) for n in HEADLINE] + list(
            pipeline.items()
        )
        for name, fn in warm_fns:
            try:
                fn(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # pragma: no cover — warm-up is best-effort
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)
        Q.clear_ingest_cache()

    # Three passes, keep the per-query minimum: the host carries background
    # load from other tenants with observed run-to-run variance above 4x on
    # the SAME commit (measured r03: suite 99.2 s vs 51.4 s back-to-back,
    # flagship 45 s vs 4.4 s), and a single sample conflates that noise
    # with plan quality.  The min is the steady-state cost of the plan,
    # which is what the 2x-of-baseline gate is meant to measure; a third
    # pass materially raises the odds that each query catches at least one
    # uncontended window — and queries whose min is still >1.5x their
    # recorded idle band get up to 2 targeted extra passes (see the
    # contention-adjudication block above HEADLINE).
    load_start = _loadavg()
    use_band = abs(sf - 0.1) < 1e-9  # bands are sf0.1 levels
    timings, samples, loads, retries = _timed_passes(
        spark, sf_dir, [(n, Q.QUERIES[n]) for n in HEADLINE], "headline",
        use_band,
    )

    # Pipeline suite — same methodology, its own loop so headline timings
    # stay strictly comparable to r1-r8.
    ptimings, psamples, ploads, pretries = _timed_passes(
        spark, sf_dir, list(pipeline.items()), "pipeline", use_band
    )

    total = round(sum(timings.values()), 3)
    ptotal = round(sum(ptimings.values()), 3)
    ptotal_frozen = round(
        sum(ptimings[n] for n in PIPELINE_FROZEN_R9 if n in ptimings), 3
    )
    ptotal_frozen_r10 = round(
        sum(ptimings[n] for n in PIPELINE_FROZEN_R10 if n in ptimings), 3
    )
    load_end = _loadavg()
    # over_band is only meaningful against the sf0.1 idle levels — an sf1
    # run (a recorded BASELINE.md workflow) would otherwise flag nearly
    # every query as a false regression (ADVICE r10, medium).
    over = _over_band(timings) if use_band else {}
    pover = _over_band(ptimings) if use_band else {}
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # Contention self-adjudication context (VERDICT r9 #2):
                # loadavg per pass, full per-query pass spreads, targeted
                # retry counts, and min/band ratios for anything still
                # over 1.5x its recorded idle level.  Adjudication rule in
                # BASELINE.md ("Reading BENCH_r{N}.json under contention").
                "loadavg": {"start": load_start, "per_pass": loads,
                            "pipeline_per_pass": ploads,
                            "end": load_end},
                "samples": samples,
                "retries": retries,
                "over_band": over,
                "pipeline_suite": {
                    "metric": "pipeline_suite_wall_clock",
                    "value": ptotal,
                    # Subtotal over the original frozen seven members —
                    # the number comparable to BENCH_r08/r09's
                    # pipeline_suite.value (the suite gained
                    # curation_v2_pipeline in r10, curation_v3 in r11).
                    "value_r9_members": ptotal_frozen,
                    # The r10 8-member subtotal — comparable to the
                    # BASELINE.md 40.3–41.0 s band.
                    "value_r10_members": ptotal_frozen_r10,
                    "unit": "sec",
                    "queries": ptimings,
                    "samples": psamples,
                    "retries": pretries,
                    "over_band": pover,
                },
            }
        )
    )
    # Compact one-line summary as the LAST stdout line (VERDICT r10 #4):
    # the driver's artifact keeps only the final 2,000 chars of stdout,
    # and BENCH_r10 lost its entire headline block to that cap (the full
    # JSON above is ~4k chars).  r13 (VERDICT r12 #1): the driver's PERF
    # comparator and scaling block read per-query seconds from the FINAL
    # line, and they came back empty (`per_query: {}`, `n_common: 0`) for
    # two rounds because this line carried totals only — so the final line
    # now ALSO carries `value`/`queries` (the driver contract's shape):
    # the merged per-query minima, headline names verbatim plus the
    # pipeline members, with the pipeline arm of the one name collision
    # (minhash_lsh_pairs runs in both suites) ADDED under a new name,
    # `minhash_lsh_pairs_pipeline` — nothing removed or renamed.  Measured
    # length ~1.5k chars, inside the 2,000-char tail with margin; the full
    # spreads/loadavg-per-pass block above is unchanged for human readers.
    print(
        json.dumps(
            _summary_payload(
                timings,
                ptimings,
                total,
                ptotal,
                ptotal_frozen,
                ptotal_frozen_r10,
                sf,
                load_start,
                load_end,
                sum(retries.values()) + sum(pretries.values()),
                over,
                pover,
            )
        )
    )


def _summary_payload(
    timings: dict,
    ptimings: dict,
    total: float,
    ptotal: float,
    ptotal_frozen: float,
    ptotal_frozen_r10: float,
    sf: float,
    load_start: list,
    load_end: list,
    retries_total: int,
    over: dict,
    pover: dict,
) -> dict:
    """The final stdout line's payload (separate function so its shape —
    per-query keys present, merged-name collision policy, total length —
    is pinned by tests/test_docs_consistency.py without running Spark)."""
    merged = dict(timings)
    for name, sec in ptimings.items():
        key = name
        if key in merged:
            key = f"{name}_pipeline"
            assert key not in merged, f"summary key collision: {key}"
        merged[key] = sec
    return {
        "metric": "bench_summary",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": merged,
        "headline_sec": total,
        "pipeline_sec": ptotal,
        "pipeline_frozen7_sec": ptotal_frozen,
        "pipeline_frozen8_sec": ptotal_frozen_r10,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "retries_total": retries_total,
        "over_band_n": len(over) + len(pover),
        "over_band_worst": dict(
            sorted({**over, **pover}.items(), key=lambda kv: -kv[1])[:3]
        ),
    }


# ---------------------------------------------------------------------------
# Benign-noise stderr filter (VERDICT r03 #4).
#
# Under the noop sink, BENCH_r03's stderr tail recorded "SparkException:
# attempted to access non-existent accumulator".  Mechanism (reproduced
# deterministically at sf0.01): AccumulatorContext holds SQLMetrics by WEAK
# reference; operators that run bounded driver actions mid-build
# (collect_bounded's `limit().collect()`, size-dispatch `count()`s) create
# INTERMEDIATE Datasets whose Python wrappers die as soon as the action
# returns, JVM GC then clears their metric weak-refs, and straggler tasks
# of the cancelled/incremental limit jobs still deliver completion events —
# DAGScheduler logs the failed accumulator lookup (always preceded by
# "WARN AccumulatorContext: ... garbage collected accumulator").  The job
# result is unaffected (rc=0, every value recorded); keeping the final
# DataFrames alive does NOT help because the dead objects are the
# intermediates.
#
# A real mid-bench failure must not hide in that noise, so the bench runs
# its body in a child process and the parent strips EXACTLY the benign
# block (the paired WARN/ERROR lines + the SparkException stack beneath
# them), forwards everything else unmodified, reports how many blocks were
# stripped, and exits non-zero if any OTHER exception/ERROR line survives
# the filter.
# ---------------------------------------------------------------------------

_BENIGN_LINE = re.compile(
    r"WARN AccumulatorContext: Attempted to access garbage collected"
    r" accumulator \d+"
)
_BENIGN_ERROR = re.compile(
    r"ERROR DAGScheduler: Failed to update accumulator \d+ \(Unknown class\)"
    r" for task \d+"
)
_BENIGN_EXC = re.compile(
    r"^org\.apache\.spark\.SparkException: attempted to access non-existent"
    r" accumulator \d+"
)
# The bloom-stream pipeline query starts each session against a fresh
# scratch store; FileStreamSink's metadata probe of the not-yet-existing
# gram dir logs "WARN FileStreamSink: Assume no metadata directory" plus a
# java.io.FileNotFoundException line and its stack — benign by design (the
# store machinery treats a MISSING dir as "no history"; pre-creating it
# would instead be read as a prior store).  Strip exactly that block.
_BENIGN_FSS = re.compile(
    r"WARN FileStreamSink: Assume no metadata directory"
)
_BENIGN_FSS_EXC = re.compile(
    r"^java\.io\.FileNotFoundException: File .* does not exist"
)
_SUSPECT = re.compile(r"\bERROR \w|Exception|Traceback")


def _run_filtered() -> int:
    env = dict(os.environ, SPARK_GRAFT_BENCH_CHILD="1")
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__)],
        env=env,
        stderr=subprocess.PIPE,
        text=True,
        errors="replace",
    )
    stripped = 0
    suspects: list[str] = []
    in_stack = False
    in_fss = False
    assert proc.stderr is not None
    for line in proc.stderr:
        if _BENIGN_LINE.search(line):
            continue
        if _BENIGN_ERROR.search(line):
            stripped += 1
            continue
        if _BENIGN_FSS.search(line):
            stripped += 1
            in_fss = True
            continue
        if in_fss:
            # The attached stack may carry a cause chain ("Caused by: ...",
            # "\t... N more") or a wrapped IOException on non-local
            # filesystems — all part of the same benign block.
            if (
                _BENIGN_FSS_EXC.match(line)
                or line.startswith("\tat ")
                or line.startswith("\t... ")
                or line.startswith("Caused by: ")
                or re.match(r"^java\.io\.\w*Exception: ", line)
            ):
                continue
            in_fss = False
        if _BENIGN_EXC.match(line):
            in_stack = True
            continue
        if in_stack:
            if line.startswith("\tat "):
                continue
            in_stack = False
        sys.stderr.write(line)
        if _SUSPECT.search(line) and not line.startswith("# warmup"):
            suspects.append(line.rstrip())
    rc = proc.wait()
    if stripped:
        print(
            f"# stripped {stripped} benign accumulator-GC error blocks"
            " (see bench.py header / BASELINE.md)",
            file=sys.stderr,
        )
    if suspects and rc == 0:
        print(
            "# BENCH FAILED: unexpected stderr exceptions survived the"
            " benign filter:",
            file=sys.stderr,
        )
        for s in suspects[:20]:
            print(f"#   {s}", file=sys.stderr)
        return 4
    return rc


if __name__ == "__main__":
    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") == "1":
        main()
    else:
        sys.exit(_run_filtered())
