"""Scale probe — measure the core operators well beyond fixture sizes.

The sf0.1 fixtures (5k docs / 5k vectors) exercise correctness; this script
generates 1M-row vector tables and 10M-row text/key tables *inside the JVM*
(``sequence``/``transform`` expressions, no Python, no files) and times the
hot operators, so BASELINE.md can record throughput where the data no
longer fits a single task.  Run: ``python scripts/scale_probe.py [n_vec]``.

Everything here uses the same operator code paths as the driver queries —
no special-cased kernels.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    get_spark,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (  # noqa: E402
    ann as A,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (  # noqa: E402
    dedup as D,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (  # noqa: E402
    knn as K,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions import (  # noqa: E402
    text as X,
)


def synthetic_vectors(spark, n: int, dim: int = 64, parts: int = 32):
    """Deterministic pseudo-random unit-ish vectors, generated JVM-side:
    element j of row i = (hash(i, j) mod 2001 - 1000) / 1000."""
    return (
        spark.range(0, n, 1, parts)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda j: (
                    (F.pmod(F.hash(F.col("id"), j), F.lit(2001)) - F.lit(1000))
                    / F.lit(1000.0)
                ).cast("float"),
            ).alias("embedding"),
        )
    )


def _synthetic_curation_corpus(spark, n_cur: int):
    """The curation probes' shared synthetic corpus: 10% planted exact
    dups, ~1% planted near-dups (3-gram Jaccard ~0.95), a df=N hot
    5-gram prefix the banding's df cap must drop, 60-word docs.  Cached
    + materialized (see the comment at the call site in
    ``_curation_v2_main`` for why feeding the raw generator tree would
    time expression re-evaluation instead of the operator)."""
    n_base = int(n_cur * 0.9)
    base = F.pmod(F.col("id"), F.lit(n_base))
    near = F.when(F.pmod(base, F.lit(101)) == 100, base - 1).otherwise(base)
    cur = spark.range(0, n_cur, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "zh")]),
            (F.pmod(base, F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.lit("the quick brown fox jumps "),  # hot prefix, df = n_cur
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
            F.pmod(F.hash(base, F.lit(99)), F.lit(1_000_000)).cast("string"),
        ).alias("text"),
    )
    cur = cur.cache()
    cur.count()
    return cur


def _staged_main(n_cur: int) -> None:
    """r12 (VERDICT r11 #2): the STAGED/resumable composed pipeline at
    corpus scale — run ``curate_corpus_v2(staged_root=...)`` end-to-end,
    simulate a kill between stages (delete the pairs/surv stage tables,
    POISON the input empty), resume, and record resume cost vs the full
    wall plus bit-identity of the outputs.  Run:
    ``python scripts/scale_probe.py [n_docs] --staged``."""
    import shutil
    import tempfile

    spark = get_spark(app_name="scale-probe-staged")
    results: dict = {"form": "curation-v2-staged", "n_docs": n_cur}
    cur = _synthetic_curation_corpus(spark, n_cur)
    root = tempfile.mkdtemp(prefix="staged_probe_")
    kw = dict(
        min_stops=0, use_minhash=True, k_select=n_cur // 20,
        dsir_hash="xx64", staged_root=root,
    )
    t0 = time.time()
    out = D.curate_corpus_v2(cur, **kw).cache()
    survivors = out.count()
    results["full_wall_sec"] = round(time.time() - t0, 2)
    results["survivors"] = survivors
    full_hash = out.selectExpr(
        "sum(hash(doc_id, lang, n_words, bits_per_token_ppm, bucket,"
        " exact_dups, stripped_tokens, near_dups, split, n_feats,"
        " score_bits, mean_milli, selected)) AS h"
    ).first()["h"]
    out.unpersist()
    # Kill-between-stages: the two most expensive downstream stages are
    # recomputed from the persisted kept table; gated2/kept (the gate +
    # tercile + exact-dedup subtrees) must NOT rerun — the input is
    # poisoned empty to prove it.
    shutil.rmtree(f"{root}/pairs")
    shutil.rmtree(f"{root}/surv")
    t0 = time.time()
    out2 = D.curate_corpus_v2(cur.limit(0), **kw).cache()
    n2 = out2.count()
    results["resume_wall_sec"] = round(time.time() - t0, 2)
    resume_hash = out2.selectExpr(
        "sum(hash(doc_id, lang, n_words, bits_per_token_ppm, bucket,"
        " exact_dups, stripped_tokens, near_dups, split, n_feats,"
        " score_bits, mean_milli, selected)) AS h"
    ).first()["h"]
    out2.unpersist()
    results["rows_equal"] = bool(n2 == survivors)
    results["hash_equal"] = bool(resume_hash == full_hash)
    # All stages present: only the final DSIR join recomputes.
    t0 = time.time()
    n3 = D.curate_corpus_v2(cur.limit(0), **kw).count()
    results["warm_wall_sec"] = round(time.time() - t0, 2)
    results["warm_rows_equal"] = bool(n3 == survivors)
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(results))


def _curation_v2_main(n_cur: int, strip_spans: bool = False) -> None:
    """Focused probe for the COMPOSED curation run at corpus scale (r10):
    ``curate_corpus_v2(use_minhash=True)`` — gopher gate -> ccnet
    terciles -> exact dedup -> banded pair graph shared by the
    leakage-safe split and the near-dup drop -> DSIR top-5% — over an
    N-doc corpus with 10% planted exact dups, ~1% planted near-dups
    (3-gram Jaccard ~0.95), a df=N hot 5-gram prefix the banding's df
    cap must drop, and 60-word docs (the Gopher word-count floor is 50;
    the fixture-scale pipeline runs min_stops=0 and so does this —
    synthetic word salad has one stop word, "the", in the hot prefix).

    Run: ``python scripts/scale_probe.py [n_docs] --curation-v2``
    (default 300,000).  ``--curation-v3`` additionally turns on the r11
    span-strip stage (``strip_spans=True`` — corpus-duplicated 8-gram
    spans cut between exact dedup and the pair graph; the hot prefix and
    the planted near-dups guarantee the stage is non-vacuous at scale)
    and reports stripped-token stats.  Prints one JSON line,
    BASELINE.md-ready.
    """
    spark = get_spark(app_name="scale-probe-curation-v2")
    form = "curation-v3" if strip_spans else "curation-v2"
    results: dict = {"form": form, "n_docs": n_cur}
    # Materialize the synthetic corpus (as every probe section does): a
    # real corpus is storage-backed; feeding the raw 54-expression
    # generator tree instead lets CollapseProject inline the text
    # construction into EVERY downstream token expression (measured 164 s
    # for the tercile stage alone at 5k docs vs ~2 s cached — the probe
    # would time expression re-evaluation, not the operator).
    cur = _synthetic_curation_corpus(spark, n_cur)
    t0 = time.time()
    # The kept boundary follows the cached corpus's Catalyst byte
    # estimate (~477 B/doc here): on from ~1.13M docs.
    # dsir_hash="xx64": at corpus scale the DSIR stage is hash-bound and
    # xx64 (the engine-native family, 2.45M feat/s recorded) roughly
    # halves it vs the oracle-checkable md5 default.
    out = D.curate_corpus_v2(
        cur, min_stops=0, use_minhash=True, k_select=n_cur // 20,
        strip_spans=strip_spans, dsir_hash="xx64",
    ).cache()
    survivors = out.count()
    results["wall_sec"] = round(time.time() - t0, 2)
    results["survivors"] = survivors
    results["kdoc_per_sec"] = round(n_cur / results["wall_sec"] / 1e3, 1)
    results["selected"] = out.filter("selected").count()
    results["split_distribution"] = {
        r["split"]: r["c"]
        for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()
    }
    results["buckets"] = {
        r["bucket"]: r["c"]
        for r in out.groupBy("bucket").agg(F.count("*").alias("c")).collect()
    }
    results["max_exact_dups"] = out.agg(F.max("exact_dups")).first()[0]
    results["max_near_dups"] = out.agg(F.max("near_dups")).first()[0]
    if strip_spans:
        agg = out.agg(
            F.sum("stripped_tokens").alias("s"),
            F.count(F.when(F.col("stripped_tokens") > 0, 1)).alias("n"),
        ).first()
        results["stripped_tokens_total"] = int(agg["s"])
        results["docs_with_strips"] = int(agg["n"])
    out.unpersist()
    # Per-stage wall breakdown (VERDICT r10 #6) so the NEXT bottleneck is
    # named, not guessed: the same operator code paths the composition
    # chains (the exposed subtree functions), each stage materialized via
    # an EAGER localCheckpoint so the next stage's clock starts from a
    # realized predecessor.  The composed run above keeps its lazy
    # boundaries — its wall is the headline; these walls are diagnostic
    # (their sum exceeds the composed wall exactly where the lazy
    # boundaries dedupe work).
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators.selection import (  # noqa: E501
        dsir_select,
    )

    stages: dict = {}
    t = time.time()
    g2 = D.curation_v2_gated(cur, min_stops=0).localCheckpoint(eager=True)
    stages["gate_terciles_sec"] = round(time.time() - t, 2)
    t = time.time()
    # strip mode: the diagnostic stage matches the composed form (dedup
    # + span strip together — the curation_v2_kept unit).
    kept = D.curation_v2_kept(g2, strip_spans=strip_spans).localCheckpoint(
        eager=True
    )
    key = "dedup_strip_sec" if strip_spans else "exact_dedup_sec"
    stages[key] = round(time.time() - t, 2)
    t = time.time()
    pairs = D.minhash_lsh_pairs(
        kept, "text", "id", n=3, threshold=0.8, max_df=5
    ).localCheckpoint(eager=True)
    stages["pair_graph_sec"] = round(time.time() - t, 2)
    t = time.time()
    surv = D._split_survivors(kept, pairs).localCheckpoint(eager=True)
    stages["split_drop_sec"] = round(time.time() - t, 2)
    t = time.time()
    sel = dsir_select(
        surv.select("id", "lang", "text"),
        F.col("lang") == F.lit("en"),
        k=n_cur // 20,
        m=1024,
        text_col="text",
        id_col="id",
        bigrams=True,
        hash_fn="xx64",
    )
    stages["dsir_selected"] = sel.filter("selected").count()
    stages["dsir_sec"] = round(time.time() - t, 2)
    results["stage_walls"] = stages
    print(json.dumps(results))


def main() -> None:
    if "--staged" in sys.argv[1:]:
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        _staged_main(int(args[0]) if args else 1_000_000)
        return
    if "--curation-v2" in sys.argv[1:] or "--curation-v3" in sys.argv[1:]:
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        _curation_v2_main(
            int(args[0]) if args else 300_000,
            strip_spans="--curation-v3" in sys.argv[1:],
        )
        return
    n_vec = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_text = 10 * n_vec
    spark = get_spark(app_name="scale-probe")
    results: dict[str, float | int] = {"n_vectors": n_vec, "n_rows_text": n_text}

    vecs = synthetic_vectors(spark, n_vec).cache()
    vecs.count()  # materialize
    probe = [float(x) for x in vecs.filter(F.col("vec_id") == 0).first()["embedding"]]

    # 1. Exact brute-force kNN (the reference's hot query at scale).
    t0 = time.time()
    exact = K.knn(vecs, probe, k=5, tie_cols=("vec_id",)).collect()
    results["knn_exact_sec"] = round(time.time() - t0, 2)
    results["knn_exact_mvec_per_sec"] = round(
        n_vec / results["knn_exact_sec"] / 1e6, 2
    )
    exact_ids = {r["vec_id"] for r in exact}

    # 2. IVF: build once, search with pruning; recall vs exact.
    t0 = time.time()
    idx = A.IVFIndex(vecs, k_clusters=32)
    idx.indexed.count()
    results["ivf_build_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    approx = idx.search(probe, k=5, nprobe=4).collect()
    results["ivf_search_sec"] = round(time.time() - t0, 2)
    results["ivf_recall_at_5"] = len(
        exact_ids & {r["vec_id"] for r in approx}
    ) / 5.0
    vecs.unpersist()

    # 2b. kNN JOIN: 32 probes against the full item table — the bounded
    #     per-partition top-k agg (shuffle O(parts × probes × k)) vs the
    #     crossJoin+window form (shuffles every scored pair).
    vecs2 = synthetic_vectors(spark, n_vec // 2).cache()
    vecs2.count()
    probes_df = synthetic_vectors(spark, 32).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    for label, shuffle_free in (("bounded", True), ("window", False)):
        t0 = time.time()
        K.knn_join(
            probes_df,
            vecs2.select(F.col("vec_id").alias("item_id"), "embedding"),
            k=5,
            shuffle_free=shuffle_free,
        ).count()
        results[f"knn_join_32probe_{label}_sec"] = round(time.time() - t0, 2)
    vecs2.unpersist()

    # 3. Exact dedup via 64-bit fingerprints on 10M short strings
    #    (~30% constructed duplicates).
    texts = spark.range(0, n_text, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("document body "),
            (F.pmod(F.col("id"), F.lit(int(n_text * 0.7)))).cast("string"),
        ).alias("text"),
    )
    t0 = time.time()
    kept = D.exact_dedup(texts, text_col="text", id_col="doc_id").count()
    results["dedup_exact_sec"] = round(time.time() - t0, 2)
    results["dedup_kept_rows"] = kept
    results["dedup_mrow_per_sec"] = round(
        n_text / results["dedup_exact_sec"] / 1e6, 2
    )

    # 3b. MinHash+LSH near-dup at 100k docs (32 hashes, 8 bands) — the
    #     web-scale dedup path; candidate volume tracks true near-dups.
    # ids >= 99000 repeat the text of id-99000: ~1000 planted exact dups
    # the banding must surface.
    seed = F.pmod(F.col("id"), F.lit(99_000))
    corpus = spark.range(0, 100_000, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(F.hash(seed, F.lit(j)), F.lit(500)),
                )
                for j in range(20)
            ],
        ).alias("text"),
    )
    t0 = time.time()
    n_pairs = D.minhash_lsh_pairs(
        corpus, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.5
    ).count()
    results["minhash_100k_sec"] = round(time.time() - t0, 2)
    results["minhash_100k_pairs"] = n_pairs

    # 3b2. Hot-shingle bomb: 50k docs that ALL share one stopword-gram
    #      prefix (df = 50k).  Uncapped exact Jaccard would emit
    #      C(50k,2) ≈ 1.25e9 candidate pairs from that single bucket;
    #      max_df drops it, so candidates track true near-dups only
    #      (~500 planted dups).  Records candidate volume + wall-clock.
    hot_seed = F.pmod(F.col("id"), F.lit(49_500))
    hot_corpus = spark.range(0, 50_000, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps "),  # the planted hot prefix
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit("w"),
                        F.pmod(F.hash(hot_seed, F.lit(j)), F.lit(100_000)),
                    )
                    for j in range(12)
                ],
            ),
        ).alias("text"),
    )
    t0 = time.time()
    capped_pairs = D.jaccard_pairs(
        hot_corpus, "text", "doc_id", n=3, threshold=0.5, max_df=100
    ).count()
    results["jaccard_hot_shingle_capped_sec"] = round(time.time() - t0, 2)
    results["jaccard_hot_shingle_pairs"] = capped_pairs
    assert capped_pairs >= 450, "planted dups must survive the df cap"

    # 3b3. End-to-end corpus curation at 300k docs (the full pipeline a
    #      training-data build runs): 5 langs (2 gated out), ~10% planted
    #      exact duplicates, ~1% planted near-duplicates, and every doc
    #      sharing a hot 5-gram prefix that the df cap must drop.  Runs
    #      the MinHash form (the 100 TB default).  Survivor count checks
    #      the planted structure: gates keep 3/5 of langs, each dup group
    #      collapses to one keeper.
    n_cur = 300_000
    n_base = int(n_cur * 0.9)
    # ids >= n_base repeat base doc (id - n_base): 10% exact dups, same
    # lang (n_base % 5 == 0 keeps the residue).
    base = F.pmod(F.col("id"), F.lit(n_base))
    # Near-dup plant: base % 101 == 100 copies the previous doc's first 29
    # words and differs only in the last — 3-gram Jaccard ≈ 0.87.  101 is
    # coprime to 5, so a fraction of the planted pairs lands with both
    # sides in the gated languages (both residues in {0,1,2}).
    near = F.when(F.pmod(base, F.lit(101)) == 100, base - 1).otherwise(base)
    cur = spark.range(0, n_cur, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "zh")]),
            (F.pmod(base, F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.lit("the quick brown fox jumps "),  # hot prefix, df = 300k
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit("w"),
                        F.pmod(F.hash(near, F.lit(j)), F.lit(1_000_000)),
                    )
                    for j in range(29)
                ],
            ),
            F.lit(" w"),
            F.pmod(F.hash(base, F.lit(29)), F.lit(1_000_000)).cast("string"),
        ).alias("text"),
    )
    t0 = time.time()
    curated = D.curate_corpus(
        cur,
        "text",
        "doc_id",
        "lang",
        langs=("en", "de", "fr"),
        min_tokens=25,
        jaccard_threshold=0.8,
        use_minhash=True,
    ).count()
    results["curate_300k_sec"] = round(time.time() - t0, 2)
    results["curate_300k_survivors"] = curated

    # 3c. Connected components on a 200k-edge graph (10k chains of 20
    #     nodes): the distributed star loop (O(log n) rounds, forced with
    #     local_max_edges=0) vs the default dispatch, which contracts an
    #     edge list this size with driver union-find.
    chain = spark.range(0, 200_000, 1, 32).select(
        (F.col("id") + (F.col("id") / F.lit(20)).cast("long")).alias("id_a")
    ).withColumn("id_b", F.col("id_a") + 1)
    t0 = time.time()
    n_nodes = D.connected_components_star(chain, local_max_edges=0).count()
    results["concomp_star_dist_200k_edges_sec"] = round(time.time() - t0, 2)
    results["concomp_nodes"] = n_nodes
    t0 = time.time()
    n_nodes_star = D.connected_components_star(chain).count()
    results["concomp_star_200k_edges_sec"] = round(time.time() - t0, 2)
    assert n_nodes_star == n_nodes

    # 4. Linear text scans: quality metrics + BPE-ish token count, 10M rows.
    t0 = time.time()
    texts.select(
        "doc_id", *X.quality_metrics("text"), X.bpe_token_count("text").alias("bpe")
    ).agg(F.sum("bpe")).collect()
    results["text_scan_sec"] = round(time.time() - t0, 2)
    results["text_scan_mrow_per_sec"] = round(
        n_text / results["text_scan_sec"] / 1e6, 2
    )

    # 5. Round-2 training ops on a 1M-doc synthetic corpus (~30 words per
    #    doc, 5 langs, ~1 seeded email per 7 docs).
    n_docs = 1_000_000
    docs = spark.range(0, n_docs, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "zh")]),
            (F.pmod(F.col("id"), F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit("w"),
                        F.pmod(F.hash(F.col("id"), F.lit(j)), F.lit(5_000)),
                    )
                    for j in range(30)
                ],
            ),
            F.when(
                F.pmod(F.col("id"), F.lit(7)) == 0,
                F.concat(
                    F.lit(" mail u"),
                    F.col("id").cast("string"),
                    F.lit("@example.com at 10.1.2.3"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (  # noqa: E402,PLC0415
        textstats as TS,
    )

    t0 = time.time()
    red = TS.redact_pii(docs).agg(
        F.sum("n_email"), F.sum(F.length("redacted"))
    ).collect()
    results["pii_redact_1m_sec"] = round(time.time() - t0, 2)
    results["pii_redact_emails_found"] = int(red[0][0])

    t0 = time.time()
    TS.repetition_signals(docs).agg(F.sum("n_tokens")).collect()
    results["repetition_1m_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    TS.pack_token_bins(
        docs.select(
            "doc_id",
            F.pmod("doc_id", F.lit(256)).alias("shard"),
            X.token_count("text").cast("long").alias("n_tok"),
        ),
        "n_tok",
        "shard",
        "doc_id",
        2048,
    ).count()
    results["packing_1m_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    TS.mixture_sample(
        docs.select(
            "doc_id", "lang", X.token_count("text").cast("long").alias("ntok")
        ),
        {"en": 40, "de": 25, "es": 20, "fr": 15},
        budget=10_000_000,
        token_count_col="ntok",
    ).collect()
    results["mixture_1m_sec"] = round(time.time() - t0, 2)

    # 6. BPE vocabulary training on the same 1M-doc corpus: the corpus-wide
    #    cost is ONE pre-token frequency reduction (explode + partial-agg;
    #    ~31M token occurrences -> Heaps'-law-small distinct table), after
    #    which the merge loop runs on driver-side sufficient statistics.
    #    Encode applies the broadcast ranks distributed over a 100k sample.
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (  # noqa: E402,PLC0415
        bpe as BP,
    )

    t0 = time.time()
    n_words = BP.word_frequencies(docs).count()
    results["bpe_wordfreq_1m_sec"] = round(time.time() - t0, 2)
    results["bpe_distinct_words"] = int(n_words)

    t0 = time.time()
    merges, dropped = BP.train_bpe(docs, num_merges=32, max_words=100_000)
    results["bpe_train_1m_sec"] = round(time.time() - t0, 2)
    results["bpe_merges_learned"] = len(merges)
    results["bpe_dropped_words"] = int(dropped)

    sample = docs.filter(F.col("doc_id") < 100_000)
    t0 = time.time()
    BP.bpe_encode(sample, merges).agg(F.sum("bpe_tokens")).collect()
    results["bpe_encode_100k_sec"] = round(time.time() - t0, 2)

    print(json.dumps(results))


if __name__ == "__main__":
    main()
