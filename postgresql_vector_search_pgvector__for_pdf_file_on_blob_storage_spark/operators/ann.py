"""Approximate nearest-neighbor search at scale (SURVEY.md §2B B3).

The reference's kNN is an exact O(n) scan — pgvector without an index
(create-env.sh:177-180 creates no ivfflat/hnsw; SURVEY.md §4.2).  Exact
stays the correctness target (operators.knn); these operators are the
**opt-in scale path** for 100 TB serving, where scanning every vector per
query is not viable:

- **IVF (inverted-file) index**: k-means coarse centroids; vectors
  partitioned by nearest centroid; a probe searches only the ``nprobe``
  nearest clusters.  This is the Spark-natural design: the "index" is just
  a DataFrame partitioned/bucketed by ``cluster_id``, so a probe prunes
  partitions instead of scanning them — the same idea as pgvector's
  ivfflat, expressed as data layout.
- **LSH (random hyperplane / MinHash)** via ``pyspark.ml.feature`` for
  approximate similarity joins.

Both return (approximate) results whose RECALL against the exact operator
is asserted in tests — approximate operators must never silently replace
the exact oracle-checked path (they are not registered with a DuckDB twin).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from ..utils import spread
from . import blockscan as BS
from . import knn as K

__all__ = [
    "IVFIndex",
    "lsh_similarity_join",
    "nearest_centroid_col",
    "synthetic_clustered_vectors",
]


def nearest_centroid_col(centroids, vec_col: str):
    """Column expression: index of the nearest centroid (squared L2) for
    ``vec_col``, ties to the lowest index — the one model-free
    assignment: IVFIndex/IVFPQIndex use it for loaded indexes,
    incremental adds, and the canonical coarse fit, and
    ``semdedup.assign_to_centroids`` (batch and streaming SemDeDup)
    for frozen centroids.  NULL or wrong-dimension vectors map to
    NULL.

    Two implementations by ``dim * k`` size: native expressions
    (centroids inlined as array literals, whole-stage codegen) below
    ~16k inlined values; an Arrow-batched pandas UDF (the blockscan
    centroid ranking — one float64 GEMM per batch against the
    closure-captured centroid matrix) above — at the reference's 1536-d
    x 64 clusters the literal form emits a ~100k element expression tree
    that splinters codegen (the SQ8 params failure mode) and dominated
    the canonical 200k x 1536 build wall-clock, where the GEMM form takes
    seconds (BASELINE.md r06).  Both paths break ties to the first
    (lowest) index."""
    return _rank_centroids(centroids, vec_col, None)


def _rank_centroids(centroids, vec_col: str, m: int | None):
    """The centroid ranking behind :func:`nearest_centroid_col`
    (``m=None``: the nearest id, ``int``) and
    ``semdedup.assign_to_centroids_topm`` (``m``: the ``m`` nearest ids,
    nearest first, ``array<int>``; empty for a NULL-distance vector)."""
    cents = np.asarray(centroids, dtype=np.float64)
    if cents.size <= 16_384:
        # r12: (d, i) structs name the k distances once (lambda-bearing
        # expressions escape subexpression elimination), order
        # lexicographically (ties to the lowest index), and the filter
        # drops NULL distances (NULL / wrong-dim vectors: all NULL), so
        # such a vector gets a NULL id / an empty ranking.
        structs = F.array(
            *[
                F.struct(
                    V.squared_l2_distance(
                        F.col(vec_col),
                        F.array(*[F.lit(float(x)) for x in c]),
                    ).alias("d"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        valid = F.filter(structs, lambda s: s["d"].isNotNull())
        if m is None:
            return F.array_min(valid)["i"].cast("int")
        return F.transform(
            F.slice(F.array_sort(valid), 1, int(m)), lambda s: s["i"].cast("int")
        )

    dim = cents.shape[1]
    tile = BS.TILE

    @F.pandas_udf("int" if m is None else "array<int>")
    def _nearest(vecs: pd.Series) -> pd.Series:
        # NULL / wrong-dimension vectors get no id, matching the literal
        # branch (all distances NULL).
        X, ok = BS.rows(vecs.to_numpy(), dim)
        ids = BS.nearest(X, cents, m or 1, tile).astype(np.int32)
        if m is None:
            out = np.full(len(vecs), None, dtype=object)
            out[ok] = ids[:, 0]
            return pd.Series(out, dtype="Int32")
        out = [[]] * len(vecs)
        for pos, row in zip(np.flatnonzero(ok), ids):
            out[pos] = row
        return pd.Series(out)

    return _nearest(F.col(vec_col))


def synthetic_clustered_vectors(
    spark,
    n: int,
    dim: int = 64,
    n_centers: int = 32,
    noise: float = 0.05,
    parts: int = 32,
) -> DataFrame:
    """Deterministic CLUSTERED vector table, generated JVM-side (no files,
    no Python): row i belongs to center ``i % n_centers``; element j =
    center value + ``noise``-scaled jitter, both from integer hashes.

    Exists because uniform-random vectors are the WORST case for IVF (no
    cluster structure to exploit — recall@5 ~0.6 at 1M rows, BASELINE.md),
    while real embedding corpora are heavily clustered; recall bounds and
    the recall-vs-speedup curve must be measured on both (VERDICT r02 #6).
    Used by tests and scripts/scale_probe.py.
    """
    cid = (F.col("id") % n_centers).alias("center")

    def elem(j):
        center = (
            F.pmod(F.hash(F.col("id") % n_centers, j), F.lit(2001)) - F.lit(1000)
        ) / F.lit(1000.0)
        jitter = (
            F.pmod(F.hash(F.col("id"), j, F.lit(1)), F.lit(2001)) - F.lit(1000)
        ) / F.lit(1000.0)
        return (center + F.lit(float(noise)) * jitter).cast("float")

    return spark.range(0, n, 1, parts).select(
        F.col("id").alias("vec_id"),
        cid,
        F.transform(F.sequence(F.lit(1), F.lit(dim)), elem).alias("embedding"),
    )


class IVFIndex:
    """Inverted-file ANN index over an ``array<float>`` column.

    Build: k-means (``pyspark.ml``, fixed seed) fits coarse centroids on
    the item table; items get a ``cluster_id`` and are repartitioned by it
    (on a real cluster: written bucketed-by-cluster so probes prune files).

    Query: nearest ``nprobe`` centroids for the probe vector (driver-side —
    centroids are tiny), then exact kNN *within* those clusters only.
    Search cost drops from O(n) to O(n * nprobe / k_clusters).
    """

    def __init__(
        self,
        items: DataFrame,
        k_clusters: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        fit_fraction: float = 1.0,
        max_iter: int = 20,
        fit_impl: str = "ml",
        sample_rows: int = 100_000,
    ):
        if fit_impl not in ("ml", "canonical"):
            raise ValueError(
                f"IVFIndex: fit_impl must be ml|canonical, got {fit_impl!r}"
            )
        self.id_col, self.vec_col = id_col, vec_col
        # fit_fraction < 1 fits centroids on a seeded Bernoulli sample —
        # each k-means iteration then scans the sample, not the corpus,
        # and only the final assignment pass reads everything (the same
        # corpus-scale split as semdedup.cluster_assign; at the
        # reference's 1536-d the full fit dominated the IVFPQ build).
        if fit_impl == "canonical":
            # Deterministic coarse fit: bounded sample collected to the
            # driver, rows canonically ordered (bytewise — same rationale
            # as PQCodebook), then the seeded k-means++ _kmeans kernel.
            # Rebuilding yields byte-identical centroids PROVIDED the
            # corpus presents the same partition layout (Spark's seeded
            # Bernoulli sample is partition-dependent; a cached or
            # identically-partitioned source — as the bit-identity test
            # exercises — qualifies; fit_fraction=1 with n<=sample_rows
            # is layout-independent).  pyspark.ml KMeans never qualifies:
            # its distributed aggregation order varies run to run even
            # at fixed layout (measured as IVFPQ recall spread in
            # BASELINE.md).  The trade: the fit sees at
            # most ``sample_rows`` rows (ample for k<=few-hundred coarse
            # centroids) and runs on one machine; "ml" stays the default
            # for fits that must scan more than a bounded sample.
            import numpy as np

            from ..utils import collect_bounded
            from .quant import _kmeans

            src = spread(items).select(vec_col)
            if fit_fraction < 1.0:
                src = src.sample(fraction=fit_fraction, seed=seed)
            n = src.count()
            if n > sample_rows:
                src = src.sample(False, sample_rows / n * 0.9, seed=seed)
            rows = collect_bounded(
                src, [vec_col], sample_rows, "IVFIndex(canonical)",
                "Lower fit_fraction or sample_rows — the coarse fit only"
                " needs a bounded representative sample.",
            )
            X = np.asarray(
                [r[0] for r in rows if r[0] is not None], dtype=np.float64
            )
            if X.ndim != 2 or X.shape[0] == 0:
                raise ValueError("IVFIndex: no usable vectors in the sample")
            Xc = np.ascontiguousarray(X)
            X = Xc[
                np.argsort(
                    Xc.view([("", f"V{Xc.shape[1] * 8}")]).ravel(),
                    kind="stable",
                )
            ]
            centers = _kmeans(
                # % 2**32: RandomState accepts only 32-bit seeds; same
                # wrap as PQCodebook.fit_sub so any user seed works in
                # both paths.
                X, k_clusters, max_iter, np.random.RandomState(seed % 2**32)
            )
            self.model = None
            self.centroids = [list(map(float, c)) for c in centers]
            assigned = self.assign(spread(items))
        else:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            feat = spread(items).withColumn(
                "__features", array_to_vector(F.col(vec_col))
            )
            fit_src = (
                feat
                if fit_fraction >= 1.0
                else feat.sample(fraction=fit_fraction, seed=seed)
            )
            km = KMeans(
                k=k_clusters, seed=seed, featuresCol="__features",
                maxIter=max_iter,
            )
            self.model = km.fit(fit_src)
            self.centroids = [
                list(map(float, c)) for c in self.model.clusterCenters()
            ]
            assigned = self.model.transform(feat).withColumnRenamed(
                "prediction", "cluster_id"
            )
        # Repartition by cluster: a probe's candidate set is co-located.
        # (Cluster deployment: .write.bucketBy(k, "cluster_id") instead.)
        # All original columns ride along so search results project like
        # the exact knn's.
        self.indexed = (
            assigned.drop("__features").repartition("cluster_id").cache()
        )

    @classmethod
    def from_centroids(
        cls,
        items: DataFrame,
        centroids,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFIndex":
        """Fixed-centroid construction — no k-means fit.  Assignment and
        nprobe pruning become deterministic functions of the centroid
        literals, which makes the whole IVF mechanism (nearest-centroid
        argmin, cluster layout, probe-set selection, in-cluster exact
        scan) expressible in portable SQL: the oracle-row move that gave
        PQ its coverage via ``PQCodebook.from_books`` (VERDICT r7
        next-round #2).  Also the natural constructor when centroids
        come from an external system (pgvector ivfflat's quantizer is
        likewise fixed after CREATE INDEX)."""
        self = cls.__new__(cls)
        self.id_col, self.vec_col = id_col, vec_col
        self.model = None
        self.centroids = [list(map(float, c)) for c in centroids]
        self.indexed = (
            self.assign(spread(items)).repartition("cluster_id").cache()
        )
        return self

    def save(self, path: str) -> None:
        """Persist the index as DATA LAYOUT: items parquet partitioned by
        ``cluster_id`` (each cluster = its own directory, so a probe's
        ``cluster_id IN (...)`` filter becomes partition pruning — files of
        unvisited clusters are never opened) + a tiny centroids table."""
        spark = self.indexed.sparkSession
        self.indexed.write.partitionBy("cluster_id").mode(
            "overwrite"
        ).parquet(f"{path}/items")
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.centroids)],
            "cluster_id int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")

    @classmethod
    def load(
        cls,
        spark,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFIndex":
        """Reopen a saved index without re-fitting k-means.  ``search`` on
        a loaded index reads only the probed clusters' files (asserted in
        tests via the plan's PartitionFilters)."""
        self = cls.__new__(cls)
        self.id_col, self.vec_col = id_col, vec_col
        self.model = None  # no refit needed; centroids carry the geometry
        self.centroids = [
            list(map(float, r["centroid"]))
            for r in spark.read.parquet(f"{path}/centroids")
            .orderBy("cluster_id")
            .collect()
        ]
        self.indexed = spark.read.parquet(f"{path}/items")
        return self

    def assign(self, items: DataFrame) -> DataFrame:
        """Assign each row its nearest-centroid ``cluster_id`` without a
        k-means model (works on a :meth:`load`-ed index).  Ties break to
        the lowest cluster id, matching k-means transform.  Dispatch in
        :func:`nearest_centroid_col`."""
        return items.withColumn(
            "cluster_id", nearest_centroid_col(self.centroids, self.vec_col)
        )

    def add(self, new_items: DataFrame) -> None:
        """Incrementally insert vectors: assign to the EXISTING centroids
        (no refit) and merge into the cached layout — pgvector-ivfflat
        semantics, where inserts append to posting lists and the coarse
        quantizer stays fixed.  Under distribution drift recall degrades
        gradually; the remedy is an offline rebuild (new ``IVFIndex``),
        not an in-place refit."""
        assigned = self.assign(spread(new_items))
        old = self.indexed
        self.indexed = (
            old.unionByName(assigned).repartition("cluster_id").cache()
        )
        old.unpersist()

    def append_to(self, path: str, new_items: DataFrame) -> None:
        """Insert into a SAVED index: new rows are written partitioned by
        their assigned cluster, appending files inside each existing
        cluster directory — partition pruning on probes is unchanged, no
        rewrite of prior data.  (The compaction trade-off is the same as
        every log-structured index: many small appends -> periodically
        rewrite a cluster's files.)"""
        self.assign(spread(new_items)).write.partitionBy(
            "cluster_id"
        ).mode("append").parquet(f"{path}/items")

    def search(
        self, probe: list[float], k: int = 5, nprobe: int = 2
    ) -> DataFrame:
        """Top-k among the ``nprobe`` nearest clusters (exact within them)."""
        import numpy as np

        cents = np.array(self.centroids)
        d = np.linalg.norm(cents - np.array(probe), axis=1)
        clusters = [int(c) for c in np.argsort(d)[:nprobe]]
        cand = self.indexed.filter(F.col("cluster_id").isin(clusters))
        return K.knn(
            cand, probe, k=k, vec_col=self.vec_col, tie_cols=(self.id_col,)
        ).drop("cluster_id")


    def search_many(
        self,
        probes: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        probe_id: str = "probe_id",
        probe_vec: str = "embedding",
        max_probe_rows: int = 100_000,
    ) -> DataFrame:
        """Batch ANN retrieval: top-k per probe, scanning only each
        probe's ``nprobe`` nearest clusters — the nightly-retrieval shape
        (re-embedded query log joined against the corpus index).

        The probe side is collected (small by contract, as in
        ``knn_join`` — ENFORCED by ``max_probe_rows``: an oversized probe
        table raises instead of OOMing the driver); its (probe, cluster)
        assignments and vectors broadcast.  Items join their cluster's probes — the scan reads
        every cluster some probe needs, each once — and the final top-k
        window shuffles only the PRUNED candidate set
        (n_items x nprobe / k_clusters rows, not n_items x n_probes);
        for the unpruned exact form with a fully bounded exchange use
        ``operators.knn.knn_join``.  Returns
        ``(probe_id, item_id, dist, rank)`` like ``knn_join``."""
        import numpy as np

        from pyspark.sql.window import Window

        from ..utils import collect_bounded

        rows = collect_bounded(
            probes,
            [probe_id, probe_vec],
            max_probe_rows,
            "IVFIndex.search_many",
            "Batch the probe table, or for a large exact retrieval use"
            " operators.knn.knn_join with batched probes.",
        )
        rows = [(r[0], r[1]) for r in rows if r[1]]
        ptype = dict(probes.dtypes)[probe_id]
        cents = np.asarray(self.centroids)
        spark = self.indexed.sparkSession
        asg = spark.createDataFrame(
            [
                (pid, int(c), [float(x) for x in vec])
                for pid, vec in rows
                for c in np.argsort(
                    np.linalg.norm(cents - np.asarray(vec, dtype=float), axis=1)
                )[:nprobe]
            ],
            f"__pid {ptype}, cluster_id int, __pvec array<double>",
        )
        scored = self.indexed.join(F.broadcast(asg), "cluster_id").withColumn(
            "__order",
            V.squared_l2_distance(F.col(self.vec_col), F.col("__pvec")),
        )
        w = Window.partitionBy("__pid").orderBy(
            F.col("__order").asc(), F.col(self.id_col).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                F.col("__pid").alias("probe_id"),
                F.col(self.id_col).alias("item_id"),
                F.sqrt("__order").alias("dist"),
                "rank",
            )
        )


def projection_lsh_join(
    left: DataFrame,
    right: DataFrame,
    planes: list[list[float]],
    bucket_length: float,
    threshold: float,
    left_id: str = "left_id",
    right_id: str = "right_id",
    vec_col: str = "embedding",
    anti_reflexive: bool = False,
) -> DataFrame:
    """Bucketed random-projection LSH similarity join with EXPLICIT
    hyperplanes — the BucketedRandomProjectionLSH mechanism re-expressed
    as native DataFrame ops: per-table hash ``h_t(v) = floor(<v, p_t> /
    bucket_length)``, candidates = equi-join on ``(table, h_t)`` for any
    table, exact L2 verify ``dist < threshold``.

    Two reasons to exist beside :func:`lsh_similarity_join` (MLlib):

    - **Oracle row** (``embedding_lsh_fixed_planes`` in queries/selection.py, the
      fixed-parameters move): with formula planes every stage — the
      projection dot (a sequential float64 fold, bit-identical to a SQL
      left-to-right ``list_sum``), the floor-bucket, the bucket join,
      and the verify — is restatable in portable SQL and compared
      bit-for-bit, INCLUDING which true pairs the bucketing misses
      (both engines bucket identically).  MLlib's random planes are
      opaque to any SQL twin.
    - **Scale shape**: pure DataFrame ops (codegen projections, one
      equi-join on 16-byte keys, AQE-eligible) instead of
      ``approxSimilarityJoin``'s RDD-backed plan; candidates stay
      proportional to bucket collisions, never n^2.

    ``anti_reflexive=True`` emits each unordered pair once
    (``left_id < right_id``) — the self-join near-dup convention."""
    bl = float(bucket_length)

    def keyed(df: DataFrame, idc: str) -> DataFrame:
        tables = F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    F.floor(
                        V.dot_product(
                            F.col(vec_col),
                            F.array(*[F.lit(float(x)) for x in plane]),
                        )
                        / F.lit(bl)
                    )
                    .cast("long")
                    .alias("h"),
                )
                for t, plane in enumerate(planes)
            ]
        )
        return df.filter(F.col(vec_col).isNotNull()).select(
            F.col(idc), F.explode(tables).alias("th")
        ).select(idc, F.col("th.t").alias("t"), F.col("th.h").alias("h"))

    a = keyed(spread(left), left_id).alias("a")
    b = keyed(right, right_id).alias("b")
    pair_cond = (F.col("a.t") == F.col("b.t")) & (
        F.col("a.h") == F.col("b.h")
    )
    if anti_reflexive:
        pair_cond = pair_cond & (
            F.col(f"a.{left_id}") < F.col(f"b.{right_id}")
        )
    cand = (
        a.join(b, pair_cond)
        .select(
            F.col(f"a.{left_id}").alias(left_id),
            F.col(f"b.{right_id}").alias(right_id),
        )
        .dropDuplicates([left_id, right_id])
    )
    lv = left.select(
        F.col(left_id), F.col(vec_col).alias("__va")
    )
    rv = right.select(
        F.col(right_id), F.col(vec_col).alias("__vb")
    )
    dist = V.l2_distance(F.col("__va"), F.col("__vb"))
    return (
        cand.join(lv, left_id)
        .join(rv, right_id)
        .withColumn("dist", dist)
        .filter(F.col("dist") < F.lit(float(threshold)))
        .select(left_id, right_id, "dist")
    )


def lsh_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    left_id: str = "left_id",
    right_id: str = "right_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate L2 similarity join via BucketedRandomProjectionLSH:
    candidate pairs share a hash bucket in >=1 table, then the exact
    distance filter keeps pairs under ``threshold``.  Distances are
    recomputed with the engine's native expression so outputs are consistent
    with the exact ``similarity_join``."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    l = spread(left).withColumn("__f", array_to_vector(F.col(vec_col)))
    r = right.withColumn("__f", array_to_vector(F.col(vec_col)))
    lsh = BucketedRandomProjectionLSH(
        inputCol="__f",
        outputCol="__h",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(l)
    joined = model.approxSimilarityJoin(l, r, threshold, distCol="__lsh_dist")
    return joined.select(
        F.col(f"datasetA.{left_id}").alias(left_id),
        F.col(f"datasetB.{right_id}").alias(right_id),
        V.l2_distance(
            F.col(f"datasetA.{vec_col}"), F.col(f"datasetB.{vec_col}")
        ).alias("dist"),
    )
