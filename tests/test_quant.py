"""Vector quantization (operators/quant.py): SQ8 + PQ correctness,
recall vs the exact kNN, driver-side guards, and the no-Python-in-codegen
contract for the SQ8 hot path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    ann as A,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    knn as K,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    quant as Qz,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.plans.explain import (
    python_eval_nodes,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
    load_table,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def sq8(emb):
    return Qz.SQ8(emb)


def test_sq8_roundtrip_error_bounded(spark, emb, sq8):
    """Dequantized values stay within half a quantization step of the
    original (the defining property of rounding scalar quantization)."""
    enc = sq8.encode(emb)
    row = (
        enc.withColumn("deq", sq8.dequant_expr())
        .select("embedding", "deq")
        .first()
    )
    orig = np.array(row["embedding"], dtype=np.float64)
    deq = np.array(row["deq"], dtype=np.float64)
    assert np.all(np.abs(orig - deq) <= sq8.steps / 2 + 1e-9)


def test_sq8_encode_stays_in_codegen(emb, sq8):
    """Encode must be pure column expressions — no Python boundary."""
    assert python_eval_nodes(sq8.encode(emb)) == []


def test_sq8_code_type_and_range(emb, sq8):
    enc = sq8.encode(emb)
    assert dict(enc.dtypes)["code"] == "array<tinyint>"
    row = enc.selectExpr(
        "max(array_max(code)) as hi", "min(array_min(code)) as lo"
    ).first()
    assert -128 <= row["lo"] and row["hi"] <= 127


def test_sq8_knn_recall(spark, emb, sq8):
    """recall@5 of SQ8 asymmetric search vs exact kNN on the fixture."""
    enc = sq8.encode(emb).cache()
    q = emb.select("embedding").first()[0]
    exact = {
        r["vec_id"]
        for r in K.knn(emb, q, k=5, metric="l2").select("vec_id").collect()
    }
    approx = {
        r["vec_id"] for r in sq8.knn(enc, q, k=5).select("vec_id").collect()
    }
    assert len(exact & approx) / 5 >= 0.8
    enc.unpersist()


def test_pq_codes_shape_and_determinism(spark):
    items = A.synthetic_clustered_vectors(spark, 2000, dim=32, n_centers=16)
    pq = Qz.PQCodebook(items, m=4, codes=16, iters=5)
    enc = pq.encode(items)
    assert dict(enc.dtypes)["pq_code"] == "array<tinyint>"
    first = enc.orderBy("vec_id").limit(5).collect()
    again = pq.encode(items).orderBy("vec_id").limit(5).collect()
    assert [list(r["pq_code"]) for r in first] == [
        list(r["pq_code"]) for r in again
    ]
    assert all(len(r["pq_code"]) == 4 for r in first)


def test_pq_fit_modes_are_bit_identical(spark):
    """The executor-distributed fit must produce byte-for-byte the same
    codebooks as the driver thread pool: _kmeans is deterministic for a
    fixed (slice, rng), so scheduling cannot leak into results — this is
    what lets "auto" pick the spark path without re-validating any recall
    pin."""
    items = A.synthetic_clustered_vectors(spark, 3000, dim=32, n_centers=16)
    th = Qz.PQCodebook(items, m=4, codes=16, iters=5, fit_mode="threads")
    sp = Qz.PQCodebook(items, m=4, codes=16, iters=5, fit_mode="spark")
    assert np.array_equal(th.books, sp.books)
    with pytest.raises(ValueError, match="fit_mode"):
        Qz.PQCodebook(items, m=4, codes=16, iters=5, fit_mode="bogus")


def test_pq_adc_matches_numpy(spark):
    """The ADC distance of a code must equal the NumPy-computed distance
    between the query and the code's reconstructed centroids."""
    items = A.synthetic_clustered_vectors(spark, 500, dim=16, n_centers=8)
    pq = Qz.PQCodebook(items, m=4, codes=8, iters=5)
    row = pq.encode(items).first()
    code = np.array(row["pq_code"], dtype=np.int16) + 128
    recon = np.concatenate(
        [pq.books[j][code[j]] for j in range(pq.m)]
    )
    q = [0.1] * 16
    got = (
        pq.search(pq.encode(items), q, k=500)
        .filter(f"vec_id = {row['vec_id']}")
        .first()["dist"]
    )
    want = float(((np.array(q) - recon) ** 2).sum())
    assert abs(got - want) < 1e-9


def test_pq_shortlist_and_refined_recall_on_clustered(spark):
    """On tightly-clustered data PQ's quantization error exceeds the
    intra-cluster spacing, so pure ADC cannot rank WITHIN a blob — the
    meaningful contracts are (a) the exact top-5 lands in the ADC
    shortlist, and (b) the refine step (exact re-rank of the shortlist,
    the production IVFADC+R shape) recovers the exact top-5.

    Shortlist depth is 150 (30x the refined k, inside the usual
    IVFADC+R 10-100x band), NOT 50: a 10-seed sweep on this exact
    fixture (r6) measured top-50 refined recall mean 0.76, range
    0.60-0.90 — the former 50/0.9 pin passed only under a lucky seed
    and failed under any codebook change (r5 regression).  At depth
    150 the same sweep measured min 0.95 / mean 0.965, so the >=0.9
    pin below holds with margin for any seeded init."""
    items = A.synthetic_clustered_vectors(
        spark, 5000, dim=32, n_centers=16
    ).cache()
    pq = Qz.PQCodebook(items, m=8, codes=64, iters=8)
    enc = pq.encode(items).cache()
    probes = items.filter("vec_id < 4").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = {
        (r["probe_id"], r["item_id"])
        for r in K.knn_join(probes, items, k=5, item_id="vec_id").collect()
    }
    shortlist = pq.search_many(enc, probes, k=150).cache()
    sl_pairs = {
        (r["probe_id"], r["vec_id"]) for r in shortlist.collect()
    }
    assert len(exact & sl_pairs) / len(exact) >= 0.9  # shortlist recall
    refined = {
        (r["probe_id"], r["vec_id"])
        for r in Qz.PQCodebook.refine(shortlist, items, probes, k=5).collect()
    }
    assert len(exact & refined) / len(exact) >= 0.9  # refined recall
    shortlist.unpersist()
    items.unpersist()
    enc.unpersist()


def test_ivfpq_residual_coding_beats_plain_pq(spark):
    """On clustered data, PQ over per-cluster RESIDUALS must stay
    rank-meaningful where whole-vector PQ collapses: with the same m and
    shortlist, IVFPQ refined recall@5 is high on the fixture where plain
    PQ measured ~0.25-0.5 (quant_probe).  This is the empirical claim
    behind the BASELINE.md '100 TB composition' row."""
    items = A.synthetic_clustered_vectors(
        spark, 5000, dim=32, n_centers=16
    ).cache()
    idx = Qz.IVFPQIndex(items, k_clusters=16, m=8, codes=64, iters=8)
    hits = 0
    for r in items.filter("vec_id < 4").collect():
        q = list(r["embedding"])
        exact = {
            x["vec_id"]
            for x in K.knn(items, q, k=5, metric="l2", tie_cols=("vec_id",))
            .select("vec_id")
            .collect()
        }
        got = {
            x["vec_id"]
            for x in idx.search(
                q, k=5, nprobe=2, shortlist=50, refine_items=items
            ).collect()
        }
        hits += len(exact & got)
    assert hits / 20 >= 0.9
    items.unpersist()


def test_ivfpq_save_load_roundtrip_and_pruning(spark, tmp_path):
    """A saved IVFPQ index reloads to identical search results, and a
    probe on the loaded layout reads only its clusters' partitions."""
    import os

    items = A.synthetic_clustered_vectors(spark, 1000, dim=16, n_centers=8)
    idx = Qz.IVFPQIndex(items, k_clusters=8, m=4, codes=16, iters=5)
    path = str(tmp_path / "ivfpq")
    idx.save(path)
    parts = [
        d
        for d in os.listdir(os.path.join(path, "codes"))
        if d.startswith("cluster_id=")
    ]
    assert len(parts) >= 2

    loaded = Qz.IVFPQIndex.load(spark, path)
    q = [0.2] * 16
    a = [
        (r["vec_id"], round(r["dist"], 6))
        for r in idx.search(q, k=5, nprobe=3).collect()
    ]
    b = [
        (r["vec_id"], round(r["dist"], 6))
        for r in loaded.search(q, k=5, nprobe=3).collect()
    ]
    assert a == b

    plan = (
        loaded.search(q, k=5, nprobe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cluster_id" in plan


def test_ivfpq_search_many_matches_single_search(spark):
    """Batch retrieval must agree with per-probe search: same ADC
    distances for the same (probe, item) pairs after exact refine."""
    items = A.synthetic_clustered_vectors(
        spark, 2000, dim=32, n_centers=8
    ).cache()
    idx = Qz.IVFPQIndex(items, k_clusters=8, m=4, codes=16, iters=5)
    probes = items.filter("vec_id < 3").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    batch = Qz.PQCodebook.refine(
        idx.search_many(probes, shortlist=30, nprobe=2), items, probes, k=5
    )
    got_batch = {
        (r["probe_id"], r["vec_id"], round(r["dist"], 6))
        for r in batch.collect()
    }
    got_single = set()
    for r in probes.collect():
        for s in idx.search(
            list(r["embedding"]), k=5, nprobe=2, shortlist=30,
            refine_items=items,
        ).collect():
            got_single.add((r["probe_id"], s["vec_id"], round(s["dist"], 6)))
    assert got_batch == got_single
    items.unpersist()


def test_ivfpq_incremental_add(spark):
    """add() against frozen centroids/codebooks (pgvector insert
    semantics): a newly inserted vector is findable and is its own
    nearest neighbor."""
    items = A.synthetic_clustered_vectors(spark, 1000, dim=16, n_centers=8)
    idx = Qz.IVFPQIndex(items, k_clusters=8, m=4, codes=16, iters=5)
    n0 = idx.indexed.count()
    new = items.filter("vec_id < 5").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    idx.add(new)
    assert idx.indexed.count() == n0 + 5
    probe = list(items.filter("vec_id = 2").first()["embedding"])
    all_items = items.unionByName(
        new.select("vec_id", F.lit(None).cast("int").alias("center"), "embedding"),
        allowMissingColumns=True,
    )
    got = {
        r["vec_id"]
        for r in idx.search(
            probe, k=2, nprobe=2, shortlist=20, refine_items=all_items
        ).collect()
    }
    assert {2, 10_002} == got  # the original and its inserted twin


def test_ivfpq_append_to_saved_layout(spark, tmp_path):
    """append_to writes new codes inside existing cluster partitions; a
    reloaded index sees them without rewriting prior data."""
    items = A.synthetic_clustered_vectors(spark, 500, dim=16, n_centers=4)
    idx = Qz.IVFPQIndex(items, k_clusters=4, m=4, codes=16, iters=5)
    path = str(tmp_path / "ivfpq_inc")
    idx.save(path)
    new = items.filter("vec_id < 3").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    idx.append_to(path, new)
    loaded = Qz.IVFPQIndex.load(spark, path)
    assert loaded.indexed.count() == 503
    probe = list(items.filter("vec_id = 1").first()["embedding"])
    got = {
        r["vec_id"] for r in loaded.search(probe, k=2, nprobe=2).collect()
    }
    assert 10_001 in got  # the appended twin of vec 1 is retrievable


def test_ivfpq_append_recall_floor_and_pruning(spark, tmp_path):
    """VERDICT r9 next-round #6 "Done" criterion: after appending >= 10%
    new vectors into a SAVED IVFPQ layout (residual-encoded against the
    FROZEN coarse centroids + codebooks), (a) probe-time partition
    pruning is intact on the reloaded index, and (b) refined recall@5
    over the grown corpus holds a floor — inserts degrade gracefully,
    they don't break the index."""
    items = A.synthetic_clustered_vectors(
        spark, 2000, dim=16, n_centers=8
    ).cache()
    idx = Qz.IVFPQIndex(items, k_clusters=8, m=4, codes=16, iters=5)
    path = str(tmp_path / "ivfpq_grow")
    idx.save(path)
    # >= 10% growth from the same distribution (fresh ids; same centers —
    # the no-drift case the frozen-codebook contract targets).
    new = A.synthetic_clustered_vectors(
        spark, 200, dim=16, n_centers=8
    ).select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    idx.append_to(path, new)

    loaded = Qz.IVFPQIndex.load(spark, path)
    assert loaded.indexed.count() == 2200
    union = items.select("vec_id", "embedding").unionByName(new).cache()

    probes = [
        [float(x) for x in r["embedding"]]
        for r in items.filter(F.col("vec_id") % 211 == 0).collect()
    ]
    assert len(probes) >= 8
    hits = total = 0
    for q in probes:
        exact = {
            r["vec_id"]
            for r in K.knn(union, q, k=5, tie_cols=("vec_id",)).collect()
        }
        got = {
            r["vec_id"]
            for r in loaded.search(
                q, k=5, nprobe=3, shortlist=50, refine_items=union
            ).collect()
        }
        hits += len(exact & got)
        total += 5
    # Pre-append fixture recall at these parameters is ~1.0; the floor
    # leaves headroom for quantization error on the appended tail.
    assert hits / total >= 0.8, f"refined recall@5 after append: {hits}/{total}"

    plan = (
        loaded.search(probes[0], k=5, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cluster_id" in plan
    items.unpersist()
    union.unpersist()


def test_pq_fit_sample_guard_raises(spark):
    items = A.synthetic_clustered_vectors(spark, 300, dim=16, n_centers=4)
    with pytest.raises(ValueError, match="bounded sample"):
        Qz.PQCodebook(items, m=4, codes=8, sample_rows=100)


def test_pq_dim_not_divisible_raises(spark):
    items = A.synthetic_clustered_vectors(spark, 100, dim=30, n_centers=4)
    with pytest.raises(ValueError, match="not divisible"):
        Qz.PQCodebook(items, m=4, codes=8)


def test_pq_codes_beyond_one_byte_raises(spark):
    """codes > 256 cannot be stored in one tinyint — int8 wrap would
    silently corrupt the codes, so the constructor must refuse."""
    items = A.synthetic_clustered_vectors(spark, 100, dim=16, n_centers=4)
    with pytest.raises(ValueError, match=r"\[2, 256\]"):
        Qz.PQCodebook(items, m=4, codes=512)


def test_pq_from_books_fixed_codebook_encode(spark):
    """PQCodebook.from_books skips the fit and drives encode/search with
    caller-supplied codebooks — the seam the pq_adc_fixed_codebook
    oracle uses.  Encode against axis-aligned books is hand-checkable;
    shape/validation errors are loud."""
    books = np.zeros((2, 4, 2))
    books[:, :, 0] = [[0.0, 1.0, 2.0, 3.0]] * 2  # centroid c at x=c
    pq = Qz.PQCodebook.from_books(books)
    assert (pq.m, pq.codes, pq.dsub, pq.dim) == (2, 4, 2, 4)
    items = spark.createDataFrame(
        [(1, [0.1, 0.0, 2.9, 0.0]), (2, [3.2, 0.0, 1.1, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: list(np.array(r["pq_code"], dtype=np.int16) + 128)
        for r in pq.encode(items).collect()
    }
    assert got == {1: [0, 3], 2: [3, 1]}
    with pytest.raises(ValueError, match="m, codes, dsub"):
        Qz.PQCodebook.from_books(np.zeros((4, 2)))
    with pytest.raises(ValueError, match=r"\[2, 256\]"):
        Qz.PQCodebook.from_books(np.zeros((2, 300, 2)))


def test_search_many_empty_probes_returns_empty(spark):
    """An empty probe table must yield an empty result, not crash on a
    zero-row NumPy reshape."""
    items = A.synthetic_clustered_vectors(spark, 300, dim=16, n_centers=4)
    pq = Qz.PQCodebook(items, m=4, codes=8, iters=3)
    enc = pq.encode(items)
    none = items.filter("vec_id < 0").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    assert pq.search_many(enc, none, k=3).count() == 0
    idx = Qz.IVFPQIndex(items, k_clusters=4, m=4, codes=8, iters=3)
    assert idx.search_many(none, shortlist=3).count() == 0


def test_sq8_knn_ignores_malformed_vectors(spark, emb, sq8):
    """A wrong-dimension embedding dequantizes to NULL distance; it must
    never reach the top-k (NULLS LAST + size guard)."""
    bad = emb.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.slice("embedding", 1, 3).alias("embedding"),
    )
    enc = sq8.encode(emb.select("vec_id", "embedding").unionByName(bad))
    q = emb.select("embedding").first()[0]
    got = {r["vec_id"] for r in sq8.knn(enc, q, k=5).collect()}
    assert all(v < 1_000_000 for v in got) and len(got) == 5


def test_adc_ties_break_to_lowest_ids(spark):
    """Bit-identical vectors tie on ADC distance: every search form of
    both index types must return the lowest ids, run after run, however
    the tied rows are spread over partitions (the per-partition trim
    and the global merge both order by (dist, id))."""
    k, n = 3, 40
    vec = [((i * 13) % 17 - 8) / 9.0 for i in range(8)]
    items = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<double>"
    ).repartition(4)
    probes = spark.createDataFrame(
        [(7, vec), (9, [-x for x in vec])], "probe_id long, embedding array<double>"
    )
    books = np.stack([np.arange(-4.0, 4.0)[:, None] * np.ones((8, 4))] * 2)
    pq = Qz.PQCodebook.from_books(books)
    enc = pq.encode(items).cache()
    idx = Qz.IVFPQIndex.from_params(items, [vec, [-x for x in vec]], books)
    idx.indexed = idx.indexed.repartition(4).cache()
    assert enc.rdd.getNumPartitions() >= 4
    assert idx.indexed.rdd.getNumPartitions() >= 4
    lowest = list(range(k))
    for _ in range(3):
        assert [r["vec_id"] for r in pq.search(enc, vec, k=k).collect()] == lowest
        assert [
            r["vec_id"] for r in idx.search(vec, k=k, nprobe=1).collect()
        ] == lowest
        for got in (
            pq.search_many(enc, probes, k=k),
            idx.search_many(probes, shortlist=k, nprobe=2),
        ):
            per: dict = {}
            for r in got.orderBy("probe_id", "dist", "vec_id").collect():
                per.setdefault(r["probe_id"], []).append(r["vec_id"])
            assert per == {7: lowest, 9: lowest}
    enc.unpersist()
    idx.indexed.unpersist()
