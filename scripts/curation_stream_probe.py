"""Arrival-batch scale probe for the incremental curation composition
(streaming/curation.py, r11): K arrival batches of N synthetic docs each
(planted exact dups + near-dups across batches) through
``curation_maintain_batch``, recording EVERY batch's wall — the honest
question at ingest scale is whether per-arrival cost stays bounded as
the accepted state grows (the band-store candidate join reads the store
per batch) — then derives ``curation_survivors`` and verifies it
bag-equal to the batch pipeline (``curate_corpus(use_minhash=True,
max_df=None)``) over the drained union.

Run: ``python scripts/curation_stream_probe.py [n_batches] [batch_docs]``
(default 10 x 100,000).  Prints one JSON line, BASELINE.md-ready.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    get_spark,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (  # noqa: E402
    dedup as D,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (  # noqa: E402
    curation as SC,
)


def synth_batch(spark, start: int, n: int, n_total: int, parts: int = 16):
    """Docs [start, start+n): ~10% exact dups and ~1% near-dups of
    earlier ids (global base mapping, so duplicates cross batch
    boundaries), 55-word texts, langs cycling en/de/fr (all pass the
    gate)."""
    n_base = int(n_total * 0.9)
    base = F.pmod(F.col("id"), F.lit(n_base))
    near = F.when(
        F.pmod(base, F.lit(101)) == 100, base - 1
    ).otherwise(base)
    return spark.range(start, start + n, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit("w"),
                        F.pmod(F.hash(near, F.lit(j)), F.lit(1_000_000)),
                    )
                    for j in range(54)
                ],
            ),
            F.lit(" w"),
            F.pmod(F.hash(base, F.lit(99)), F.lit(1_000_000)).cast(
                "string"
            ),
        ).alias("text"),
    )


def main_v2(n_batches: int, batch_docs: int) -> None:
    """r12 (VERDICT r11 #1): the V2 maintenance at scale — same arrival
    structure, but every batch additionally writes the corpus-stat
    partials (doc-token counts, per-epoch LM sums, DSIR feature
    buckets), and the survivor+selection view recomposes the FULL
    13-column ``curate_corpus_v2`` output from the stores.  Records
    per-batch walls (bounded-growth question unchanged), the view wall,
    and the all-column bag-diff vs the batch composition.  Run:
    ``python scripts/curation_stream_probe.py [n_batches] [batch_docs]
    --v2``."""
    n_total = n_batches * batch_docs
    spark = get_spark(app_name="curation-stream-probe-v2")
    results: dict = {
        "form": "curation-stream-v2",
        "n_batches": n_batches,
        "batch_docs": batch_docs,
    }
    k_sel = n_total // 20
    with tempfile.TemporaryDirectory(prefix="curstream2_probe_") as tmp:
        store = f"{tmp}/store"
        walls = []
        for b in range(n_batches):
            batch = synth_batch(
                spark, b * batch_docs, batch_docs, n_total
            ).cache()
            batch.count()
            t0 = time.time()
            SC.curation_v2_maintain_batch(batch, store, min_stops=0)
            walls.append(round(time.time() - t0, 2))
            batch.unpersist()
        results["per_batch_wall_sec"] = walls
        t0 = time.time()
        surv = SC.curation_v2_survivors(spark, store, k_select=k_sel).cache()
        results["survivors"] = surv.count()
        results["survivor_view_sec"] = round(time.time() - t0, 2)
        results["selected"] = surv.filter("selected").count()
        t0 = time.time()
        full = synth_batch(spark, 0, n_total, n_total, parts=64).cache()
        full.count()
        twin = D.curate_corpus_v2(
            full, min_stops=0, use_minhash=True, max_df=None, k_select=k_sel
        ).withColumnRenamed("doc_id", "id")
        cols = [
            "id", "lang", "n_words", "bits_per_token_ppm", "bucket",
            "exact_dups", "stripped_tokens", "near_dups", "split",
            "n_feats", "score_bits", "mean_milli", "selected",
        ]
        a, bb = surv.select(cols), twin.select(cols)
        results["batch_diff_rows"] = (
            a.exceptAll(bb).count() + bb.exceptAll(a).count()
        )
        results["batch_twin_sec"] = round(time.time() - t0, 2)
    print(json.dumps(results))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_batches = int(args[0]) if args else 10
    batch_docs = int(args[1]) if len(args) > 1 else 100_000
    if "--v2" in sys.argv[1:]:
        main_v2(n_batches, batch_docs)
        return
    n_total = n_batches * batch_docs
    spark = get_spark(app_name="curation-stream-probe")
    results: dict = {
        "form": "curation-stream",
        "n_batches": n_batches,
        "batch_docs": batch_docs,
    }
    with tempfile.TemporaryDirectory(prefix="curstream_probe_") as tmp:
        store = f"{tmp}/store"
        walls = []
        for b in range(n_batches):
            batch = synth_batch(
                spark, b * batch_docs, batch_docs, n_total
            ).cache()
            batch.count()  # realize the synthetic text outside the clock
            t0 = time.time()
            SC.curation_maintain_batch(batch, store)
            walls.append(round(time.time() - t0, 2))
            batch.unpersist()
        results["per_batch_wall_sec"] = walls
        t0 = time.time()
        surv = SC.curation_survivors(spark, store).cache()
        results["survivors"] = surv.count()
        results["survivor_view_sec"] = round(time.time() - t0, 2)
        # Convergence witness vs the batch pipeline over the whole corpus.
        t0 = time.time()
        full = synth_batch(spark, 0, n_total, n_total, parts=64).cache()
        full.count()
        twin = D.curate_corpus(full, use_minhash=True, max_df=None)
        cols = ["id", "lang", "n_tokens", "exact_dups"]
        a, bb = surv.select(cols), twin.select(cols)
        results["batch_diff_rows"] = (
            a.exceptAll(bb).count() + bb.exceptAll(a).count()
        )
        results["batch_twin_sec"] = round(time.time() - t0, 2)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
