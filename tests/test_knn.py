"""kNN operators vs NumPy brute force, and plan-shape assertions
(TakeOrderedAndProject for top-k — SURVEY.md §4.2)."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    knn as K,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
    load_table,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def test_knn_matches_numpy(spark, emb, emb_np):
    ids, mat = emb_np
    probe = mat[ids == 0][0]
    got = K.knn(
        emb.filter(F.col("vec_id") != 0),
        [float(x) for x in probe],
        k=5,
        tie_cols=("vec_id",),
    ).collect()
    mask = ids != 0
    d = np.linalg.norm(mat[mask] - probe, axis=1)
    order = np.lexsort((ids[mask], d))
    expect = ids[mask][order[:5]].tolist()
    assert [r["vec_id"] for r in got] == expect
    np.testing.assert_allclose(
        [r["dist"] for r in got], np.sort(d)[:5], rtol=1e-9
    )


def test_knn_plan_is_take_ordered(spark, emb):
    df = K.knn(emb, [0.0] * 64, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


# Forced-arm property tests: small random tables whose rows are drawn
# as kinds — a fresh vector, an exact duplicate of an earlier one (a
# tie), NULL, one element short (wrong dimension), or all zeros (no
# cosine distance).  Fresh vectors are seeded normals rounded to 0.01,
# so distinct vectors never tie and every tie is bit-exact in both arms.
_KINDS = ["vec", "vec", "vec", "dup", "null", "short", "zero"]
_DIM = 4


def _rows(kinds, seed, start=0, pool=()):
    """``(id, vector)`` rows of the given kinds; duplicates copy a fresh
    vector drawn earlier or one from ``pool`` (the other side's rows)."""
    rng = np.random.default_rng(seed)
    out, seen = [], [v for _, v in pool if v is not None and len(v) == _DIM]
    for i, kind in enumerate(kinds):
        if kind == "dup" and seen:
            v = seen[int(rng.integers(len(seen)))]
        elif kind == "null":
            v = None
        elif kind == "short":
            v = [float(x) for x in (3 * rng.normal(size=_DIM - 1)).round(2)]
        elif kind == "zero":
            v = [0.0] * _DIM
        else:
            v = [float(x) for x in (3 * rng.normal(size=_DIM)).round(2)]
            seen.append(v)
        out.append((start + i, v))
    return out


def _kinds(kinds, lo, hi):
    return st.lists(st.sampled_from(kinds), min_size=lo, max_size=hi)


@given(
    metric=st.sampled_from(["l2", "cosine", "dot"]),
    k=st.integers(1, 4),
    probe_kinds=_kinds(["vec", "dup", "null", "short", "zero"], 1, 3),
    item_kinds=_kinds(_KINDS, 0, 10),
    seed=st.integers(0, 2**32 - 1),
)
@example(  # a zero-norm item under cosine: skipped, never ranked first
    metric="cosine", k=2, probe_kinds=["vec"],
    item_kinds=["vec", "zero", "vec"], seed=1,
)
@example(  # probes of two lengths: each scores the items of its own
    metric="l2", k=2, probe_kinds=["vec", "short"],
    item_kinds=["vec", "short", "vec", "short"], seed=3,
)
@settings(max_examples=4, deadline=None)
def test_knn_join_matches_window_variant(
    spark, metric, k, probe_kinds, item_kinds, seed
):
    """Forced-arm equality: the bounded two-stage join (blockscan top-k)
    and the native crossJoin + window form return the same
    ``(probe, rank, item)`` rows and 4-decimal distances — ties to the
    lower id, each probe scored against the items of its own length
    (NULL rows and other lengths skipped) and, under cosine, zero-norm
    probes and items skipped in both."""
    schema = "vec_id long, embedding array<float>"
    p_rows = _rows(probe_kinds, seed)
    probes = spark.createDataFrame(p_rows, schema)
    items = spark.createDataFrame(
        _rows(item_kinds, seed + 1, start=100, pool=p_rows), schema
    )
    kw = dict(k=k, metric=metric, probe_id="vec_id", item_id="vec_id")

    def arm(shuffle_free):
        df = K.knn_join(probes, items, shuffle_free=shuffle_free, **kw)
        return sorted(
            (r["probe_id"], r["rank"], r["item_id"], round(r["dist"], 4))
            for r in df.collect()
        )

    assert arm(True) == arm(False)


def test_knn_join_matches_numpy(spark, emb, emb_np):
    ids, mat = emb_np
    probes = emb.filter(F.col("vec_id") < 5)
    items = emb.filter(F.col("vec_id") >= 5)
    got = K.knn_join(
        probes, items, k=3, probe_id="vec_id", item_id="vec_id"
    ).collect()
    got_map = {}
    for r in got:
        got_map.setdefault(r["probe_id"], []).append((r["rank"], r["item_id"]))
    pmask, imask = ids < 5, ids >= 5
    for pid, pvec in zip(ids[pmask], mat[pmask]):
        d = np.linalg.norm(mat[imask] - pvec, axis=1)
        order = np.lexsort((ids[imask], d))
        expect = ids[imask][order[:3]].tolist()
        assert [i for _, i in sorted(got_map[pid])] == expect


def test_similarity_join_threshold(spark, emb, emb_np):
    ids, mat = emb_np
    left = emb.select(F.col("vec_id").alias("lid"), "embedding")
    right = emb.select(F.col("vec_id").alias("rid"), "embedding")
    got = K.similarity_join(
        left, right, threshold=6.0, metric="l2", left_id="lid", right_id="rid"
    ).collect()
    got_pairs = {(r["lid"], r["rid"]) for r in got}
    d = np.linalg.norm(mat[:, None, :] - mat[None, :, :], axis=2)
    expect = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(len(ids))
        if d[i, j] < 6.0
    }
    assert got_pairs == expect


def test_knn_join_matches_native_knn(spark, sf_dir):
    """knn_join with a one-row probe frame (float64 BLAS bounded top-k
    in mapInPandas — the flagship_rag_search witness path) must return
    the same top-k ids and 4-decimal distances as the native
    single-probe expression, for every metric."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).first()
    probe = [float(x) for x in row["embedding"]]
    probe_df = spark.createDataFrame(
        [(0, row["embedding"])], "probe_id int, embedding array<float>"
    )
    items = emb.filter(F.col("vec_id") != 0)
    for metric in ["l2", "cosine", "dot"]:
        nat = K.knn(items, probe, k=5, metric=metric, tie_cols=("vec_id",)).collect()
        alt = K.knn_join(
            probe_df, items, k=5, metric=metric, item_id="vec_id"
        ).orderBy("rank").collect()
        assert [r["vec_id"] for r in nat] == [r["item_id"] for r in alt], metric
        for a, b in zip(nat, alt):
            assert round(a["dist"], 4) == round(b["dist"], 4), metric


def test_similarity_join_guard_fires_on_oversized_pairs(spark, emb):
    # VERDICT r02 #1: the exact all-pairs scorer must refuse a cartesian
    # it was never meant to run.  640 x 640 = 409,600 pairs > max_pairs=1000.
    with pytest.raises(ValueError, match="lsh_similarity_join"):
        K.similarity_join(
            emb.withColumnRenamed("vec_id", "left_id"),
            emb.withColumnRenamed("vec_id", "right_id"),
            threshold=1.0,
            max_pairs=1000,
            impl="native",
        )


def test_similarity_join_guard_disabled_with_none(spark, emb):
    small = emb.filter(F.col("vec_id") < 10)
    out = K.similarity_join(
        small.withColumnRenamed("vec_id", "left_id"),
        small.withColumnRenamed("vec_id", "right_id"),
        threshold=1e9,
        max_pairs=None,
        impl="native",
    )
    assert out.count() == 100  # all pairs under an infinite threshold


def _pairs(df):
    return {
        (r[0], r[1]): r[2] for r in df.collect()
    }


@pytest.mark.parametrize(
    "metric,threshold", [("l2", 6.0), ("cosine", 0.6), ("dot", -0.25)]
)
@given(
    left_kinds=_kinds(_KINDS, 0, 8),
    right_kinds=_kinds(_KINDS, 0, 8),
    seed=st.integers(0, 2**32 - 1),
)
@example(left_kinds=["vec", "zero"], right_kinds=["zero", "vec"], seed=1)
@settings(max_examples=1, deadline=None)
def test_blas_similarity_join_matches_native(
    spark, metric, threshold, left_kinds, right_kinds, seed
):
    """Forced-arm equality: the GEMM kernel and the native form return
    the same pair set with equal 4-decimal distances — a pair is scored
    iff both vectors are non-NULL and equally long and, under cosine,
    neither has zero norm."""
    schema = "lid long, embedding array<float>"
    l_rows = _rows(left_kinds, seed)
    left = spark.createDataFrame(l_rows, schema)
    right = spark.createDataFrame(
        _rows(right_kinds, seed + 1, start=100, pool=l_rows), schema
    ).withColumnRenamed("lid", "rid")
    kw = dict(metric=metric, left_id="lid", right_id="rid")

    def arm(impl, **extra):
        df = K.similarity_join(left, right, threshold, impl=impl, **kw, **extra)
        return {(r[0], r[1]): round(r[2], 4) for r in df.collect()}

    assert arm("blas") == arm("native", max_pairs=None)


def test_blas_similarity_join_swaps_to_broadcast_smaller_side(spark, emb):
    """Asymmetric sides: the kernel broadcasts whichever side is smaller
    and must emit identical (left, right) orientation either way."""
    big = emb.select(F.col("vec_id").alias("lid"), "embedding")
    small = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("rid"), "embedding"
    )
    kw = dict(metric="l2", threshold=6.0, dist_col="dist")
    fwd = _pairs(
        K.blas_similarity_join(
            big, small, left_id="lid", right_id="rid", **kw
        )
    )
    # Same join with roles reversed: the smaller side is now `left`.
    rev = _pairs(
        K.blas_similarity_join(
            small.withColumnRenamed("rid", "lid"),
            big.withColumnRenamed("lid", "rid"),
            left_id="lid",
            right_id="rid",
            **kw,
        )
    )
    assert set(fwd) == {(b, a) for a, b in rev}


def test_similarity_join_auto_dispatch(spark, emb):
    left = emb.withColumnRenamed("vec_id", "left_id")
    right = emb.withColumnRenamed("vec_id", "right_id")
    # Small inputs: native codegen form — no Python workers in the plan.
    small = K.similarity_join(
        left.limit(10), right.limit(10), threshold=6.0
    )
    assert "MapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    # Past max_native_pairs: the GEMM kernel takes over.
    big = K.similarity_join(
        left, right, threshold=6.0, max_native_pairs=1000
    )
    assert "MapInPandas" in big._jdf.queryExecution().executedPlan().toString()
    # Neither side broadcastable: loud refusal pointing at the scale paths.
    with pytest.raises(ValueError, match="lsh_similarity_join"):
        K.similarity_join(
            left, right, threshold=6.0, max_native_pairs=1000,
            max_broadcast_rows=10,
        )


def test_knn_join_probe_cap_fires(spark, emb):
    # VERDICT r02 #2: the "small by contract" probe collect is enforced.
    with pytest.raises(ValueError, match="max_rows"):
        K.knn_join(
            emb.withColumnRenamed("vec_id", "probe_id"),
            emb.withColumnRenamed("vec_id", "item_id"),
            probe_id="probe_id",
            item_id="item_id",
            max_probe_rows=10,
        )


def test_similarity_join_sizes_param_drives_dispatch(spark):
    """Caller-provided sizes must be BELIEVED (zero eager actions): fake
    over-limit sizes on tiny frames force the loud refusal, and fake
    small sizes keep the native path (VERDICT r03 #2)."""
    import pytest

    items = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    l = items.select(F.col("vec_id").alias("left_id"), "embedding")
    r = items.select(F.col("vec_id").alias("right_id"), "embedding")
    with pytest.raises(ValueError, match="compute-infeasible"):
        K.similarity_join(
            l, r, threshold=10.0, sizes=(2_000_000, 2_000_000)
        )
    out = K.similarity_join(l, r, threshold=10.0, sizes=(2, 2)).collect()
    assert len(out) == 4  # all pairs within threshold 10


def test_similarity_join_blas_arm_counts_once(spark):
    """The auto dispatch counts both sides once and hands the counts to
    the GEMM kernel, which does not count them again: building a 60 x 60
    join past ``max_native_pairs`` runs 7 jobs (11 when the kernel
    recounted)."""
    rows = [(i, [float(i % 7), float(i % 5)]) for i in range(60)]
    items = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    l = items.select(F.col("vec_id").alias("left_id"), "embedding")
    r = items.select(F.col("vec_id").alias("right_id"), "embedding")
    sc, group = spark.sparkContext, "similarity-join-blas-jobs"
    sc.setJobGroup(group, group)
    try:
        out = K.similarity_join(l, r, threshold=1.5, max_native_pairs=1000)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 7
    assert "MapInPandas" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == sum(
        (a[1][0] - b[1][0]) ** 2 + (a[1][1] - b[1][1]) ** 2 < 1.5**2
        for a in rows for b in rows
    )
