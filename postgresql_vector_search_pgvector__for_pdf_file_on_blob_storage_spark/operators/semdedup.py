"""Semantic deduplication over embedding columns (SemDeDup — Abbas et
al. 2023, "SemDeDup: Data-efficient learning at web-scale through semantic
deduplication").

The reference engine has no dedup at all (chunks are keyed by
``UUID.randomUUID()``, Function.java:137), and doc-level exact/MinHash
dedup (operators.dedup) only catches *lexical* duplication.  Semantic
duplicates — paraphrases, re-renders, boilerplate re-writes — cluster
tightly in embedding space; SemDeDup's insight is that an exact
all-pairs cosine scan is unnecessary because semantic duplicates land in
the SAME k-means cluster, so quadratic work is needed only *within*
clusters.

100 TB shape (why this is the Spark-natural design):

- one k-means fit (``pyspark.ml``, fixed seed; ``fit_fraction`` fits the
  centroids on a seeded sample so the fit reads a corpus *sample* while
  only the single assignment pass reads everything — the 100 TB path;
  default 1.0 = fit on all rows, right for fixtures) + one shuffle
  partitioning the corpus by ``cluster_id``;
- the quadratic cosine scan runs per cluster inside ``applyInPandas``
  through the one blocked distance kernel (``operators.blockscan``:
  rows normalized once, upper-triangle GEMM tiles, threshold reducer) —
  O(sum c_i^2) instead of O(n^2), a ~k-fold saving, and embarrassingly
  parallel across clusters;
- a ``max_cluster_size`` guard refuses quadratic work on a runaway
  cluster (raise, pointing at larger ``k_clusters``) instead of silently
  burning executor-hours — the same loud-refusal discipline as
  ``knn.similarity_join``;
- edges feed the O(log n) star-contraction components operator, so each
  semantic-duplicate group keeps exactly one representative (min id —
  deterministic, unlike the paper's "random keeper").

Pairs whose members fall in different clusters are *by design* not
compared — that approximation is the paper's accuracy/cost trade and is
measured here the same way the ANN operators are: recall vs the exact
``similarity_join`` twin is asserted in tests BOTH on separable clusters
(recall 1.0) and on an OVERLAPPING-cluster fixture where the hard
assignment measurably misses boundary pairs
(tests/test_semdedup.py; scripts/semdedup_probe.py probe 7 records the
miss rate vs eps at 200k vectors).  When the miss rate matters,
:func:`assign_to_centroids_topm` (soft top-m assignment) compares every
pair whose top-m cluster sets intersect — the measured mitigation, at
~m^2 the within-cluster work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils import spread
from . import blockscan as BS
from .ann import _rank_centroids, nearest_centroid_col
from .dedup import connected_components_star

__all__ = [
    "cluster_assign",
    "kmeans_centroids",
    "assign_to_centroids",
    "assign_to_centroids_topm",
    "semantic_dedup",
    "semantic_dedup_with_centroids",
    "semantic_dup_edges",
]


def _fit_kmeans(
    items: DataFrame,
    k_clusters: int,
    vec_col: str,
    seed: int,
    max_iter: int,
    fit_fraction: float,
):
    """Shared k-means fit seam (one copy — cluster_assign,
    kmeans_centroids, and streaming/semdedup all route through here, so
    guards and cost fixes apply everywhere at once).  Returns the fitted
    model and the full featurized frame for a subsequent transform."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = spread(items.filter(F.col(vec_col).isNotNull())).withColumn(
        "__features", array_to_vector(F.col(vec_col))
    )
    km = KMeans(
        k=k_clusters, seed=seed, featuresCol="__features", maxIter=max_iter
    )
    fit_on = (
        feat if fit_fraction >= 1.0 else feat.sample(fraction=fit_fraction, seed=seed)
    )
    return km.fit(fit_on), feat


def cluster_assign(
    items: DataFrame,
    k_clusters: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    fit_fraction: float = 1.0,
) -> DataFrame:
    """Append a k-means ``cluster_id`` column (``pyspark.ml``, fixed seed).

    Same coarse quantizer as ann.IVFIndex; kept standalone so callers can
    reuse one assignment across semantic dedup + IVF layout writes.
    ``max_iter`` trades centroid quality for fit time — SemDeDup only
    needs clusters tight enough that near-identical vectors co-locate, so
    a handful of iterations is enough at probe scale.

    ``fit_fraction < 1`` fits the centroids on a seeded Bernoulli sample:
    each k-means iteration then scans only the sample, and the single
    full-corpus pass is the final ``transform`` assignment — the cost
    shape corpus-scale deployments need (a full fit is ``max_iter``
    complete corpus scans).  Default 1.0 (fit on everything) is right for
    fixture-sized tables where centroid quality is the point.

    NULL-embedding rows are excluded (they cannot be featurized); callers
    that must preserve them route them around, as semantic_dedup does."""
    model, feat = _fit_kmeans(
        items, k_clusters, vec_col, seed, max_iter, fit_fraction
    )
    return (
        model.transform(feat)
        .withColumnRenamed("prediction", "cluster_id")
        .drop("__features")
    )


def kmeans_centroids(
    items: DataFrame,
    k_clusters: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    fit_fraction: float = 1.0,
) -> list[list[float]]:
    """The fitted centroids as plain lists — the frozen coarse quantizer
    handed to :func:`assign_to_centroids` / streaming ingest."""
    model, _ = _fit_kmeans(
        items, k_clusters, vec_col, seed, max_iter, fit_fraction
    )
    return [list(map(float, c)) for c in model.clusterCenters()]


def assign_to_centroids(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid ``cluster_id`` against FROZEN centroids, ties to
    the lowest cluster id — :func:`ann.nearest_centroid_col`, the one
    argmin IVF uses too: native expressions with the centroids inlined
    below ~16k values, an Arrow-batched GEMM above.  NULL vectors are
    excluded — they have no cluster."""
    return df.filter(F.col(vec_col).isNotNull()).withColumn(
        "cluster_id", nearest_centroid_col(centroids, vec_col)
    )


def assign_to_centroids_topm(
    df: DataFrame,
    centroids: list[list[float]],
    m: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Soft top-``m`` assignment against frozen centroids: each row is
    EXPLODED into one row per its ``m`` nearest centroids (``cluster_id``
    each time, ties to the lowest id via the sort on ``(dist, id)``).

    Why: hard assignment makes SemDeDup miss duplicate pairs whose
    members straddle a k-means boundary — by design uncompared (module
    docstring).  Feeding this multi-assignment to
    :func:`semantic_dup_edges` (then ``dropDuplicates(["id_a","id_b"])``
    — a pair found in two shared clusters is emitted twice with an
    identical score) compares every pair whose top-``m`` sets intersect,
    closing the boundary band at ~``m^2``x the within-cluster work — the
    measured trade in scripts/semdedup_probe.py probe 7 and
    tests/test_semdedup.py's overlapping-cluster bound.  The ranking is
    :func:`ann.nearest_centroid_col`'s: native expressions below ~16k
    inlined centroid values, the Arrow-batched blockscan GEMM above,
    ties to the lowest id either way.  NULL vectors (and vectors with no
    distance) are dropped."""
    return df.filter(F.col(vec_col).isNotNull()).withColumn(
        "cluster_id", F.explode(_rank_centroids(centroids, vec_col, m))
    )


def semantic_dup_edges(
    assigned: DataFrame,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    max_cluster_size: int = 200_000,
) -> DataFrame:
    """Within-cluster cosine-duplicate pairs: ``(id_a, id_b, cos_dist)``
    with ``id_a < id_b`` and ``1 - cos(a, b) < eps``.

    One ``applyInPandas`` per cluster: rows are L2-normalized once and
    the pairwise scan is the blockscan threshold reducer over the strict
    upper triangle of S = X X^T (float64 GEMM tiles, tiles below the
    diagonal skipped, peak memory bounded by ``blockscan.TILE``).  The
    shuffle moving each vector to its cluster is the ONLY corpus-wide
    exchange; edge output is proportional to actual duplication, not to
    n^2.  A zero-norm vector has no cosine distance and is never a
    candidate.

    A cluster larger than ``max_cluster_size`` raises inside the task
    (quadratic memory/compute on a degenerate cluster must be a loud
    refusal, not a straggler): raise ``k_clusters``, or pre-split hot
    clusters, and re-run.
    """
    eps_f, cap, tile = float(eps), int(max_cluster_size), BS.TILE

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m > cap:
            raise ValueError(
                f"semantic_dup_edges: cluster of {m} rows exceeds"
                f" max_cluster_size={cap}; quadratic within-cluster work"
                " would be O(m^2) — increase k_clusters (finer clusters)"
                " or raise the cap explicitly."
            )
        X, ok = BS.rows(pdf["__vec"].to_numpy(), unit=True)
        ids = pdf["__id"].to_numpy(dtype=np.int64)[ok]
        i, j, d = BS.pairs(X, X, "cosine", eps_f, "upper", tile)
        return pd.DataFrame(
            {
                "id_a": np.minimum(ids[i], ids[j]),
                "id_b": np.maximum(ids[i], ids[j]),
                "cos_dist": d,
            }
        )

    return (
        assigned
        # NULL embeddings can't be scored (and would crash the NumPy
        # stack); they are simply never duplicate candidates — same
        # not-null guard as the exact kNN operators.
        .filter(F.col(vec_col).isNotNull())
        .select(
            F.col(cluster_col).alias("__c"),
            F.col(id_col).cast("long").alias("__id"),
            F.col(vec_col).alias("__vec"),
        )
        .groupBy("__c")
        .applyInPandas(per_cluster, "id_a long, id_b long, cos_dist double")
    )


def semantic_dedup(
    items: DataFrame,
    eps: float = 0.05,
    k_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cluster_size: int = 200_000,
) -> DataFrame:
    """Full SemDeDup: cluster -> within-cluster cosine edges -> connected
    components -> keep one representative per semantic-duplicate group.

    Returns one row per input item:
    ``(vec_id, cluster_id, group_id, is_keeper)`` where ``group_id`` is
    the min id of the item's semantic-duplicate component (its own id if
    unique) and ``is_keeper`` marks the kept representative.  Dropping
    ``is_keeper = false`` rows IS the paper's dedup.
    """
    valid = items.filter(F.col(vec_col).isNotNull())
    null_rows = (
        items.filter(F.col(vec_col).isNull())
        .select(F.col(id_col).cast("long").alias(id_col))
        .select(
            id_col,
            F.lit(None).cast("int").alias("cluster_id"),
            F.col(id_col).alias("group_id"),
            F.lit(True).alias("is_keeper"),
        )
    )
    if valid.limit(1).count() == 0:
        # Nothing featurizable: an empty k-means fit would raise, so the
        # promised pass-through IS the whole output.
        return null_rows
    assigned = cluster_assign(
        valid, k_clusters=k_clusters, vec_col=vec_col, seed=seed
    )
    return _dedup_from_assigned(
        assigned, null_rows, eps, id_col, vec_col, max_cluster_size
    )


def semantic_dedup_with_centroids(
    items: DataFrame,
    centroids: list[list[float]],
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int = 200_000,
) -> DataFrame:
    """SemDeDup against FROZEN external centroids — no k-means fit.
    Same output contract as :func:`semantic_dedup`; shares its entire
    post-assignment pipeline (edges -> components -> keeper fold).

    With FORMULA centroids this makes the whole mechanism (assignment,
    within-cluster cosine edge set, transitive grouping, min-id keeper)
    SQL-expressible — the fixed-parameters oracle move
    (``semantic_dedup_fixed_centroids`` in queries/selection.py, the
    ivf_fixed_centroids sibling).  Also the natural entry when centroids
    come from an earlier fit or an external system (the streaming form's
    frozen coarse quantizer)."""
    valid = items.filter(F.col(vec_col).isNotNull())
    null_rows = (
        items.filter(F.col(vec_col).isNull())
        .select(F.col(id_col).cast("long").alias(id_col))
        .select(
            id_col,
            F.lit(None).cast("int").alias("cluster_id"),
            F.col(id_col).alias("group_id"),
            F.lit(True).alias("is_keeper"),
        )
    )
    assigned = assign_to_centroids(valid, centroids, vec_col=vec_col)
    return _dedup_from_assigned(
        assigned, null_rows, eps, id_col, vec_col, max_cluster_size
    )


def _dedup_from_assigned(
    assigned: DataFrame,
    null_rows: DataFrame,
    eps: float,
    id_col: str,
    vec_col: str,
    max_cluster_size: int,
) -> DataFrame:
    """Shared SemDeDup tail: within-cluster cosine edges -> star-
    contraction components -> min-id keeper per group, plus the NULL
    pass-through union (rows with NULL embeddings can't be compared;
    they are their own keepers with cluster_id NULL)."""
    edges = semantic_dup_edges(
        assigned,
        eps=eps,
        id_col=id_col,
        vec_col=vec_col,
        max_cluster_size=max_cluster_size,
    )
    comps = connected_components_star(edges, "id_a", "id_b")
    ids = assigned.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col("cluster_id"),
    )
    out = ids.join(
        comps.withColumnRenamed("node", id_col), id_col, "left"
    )
    group = F.coalesce(F.col("cluster"), F.col(id_col))
    scored = out.select(
        id_col,
        "cluster_id",
        group.alias("group_id"),
        (group == F.col(id_col)).alias("is_keeper"),
    )
    return scored.unionByName(null_rows)
