"""Vector quantization for embedding columns (SURVEY.md §2B B3 scale
path; pgvector parity: `halfvec`/scalar quantization landed in pgvector
0.7, PQ is the standard beyond-RAM compression every vector store ships).

The reference stores full fp32 vectors and scans them exactly
(SSEOpenAIController.java:315-316) — fine at its scale, 4-32x too much
memory and bandwidth at 100 TB.  These operators compress the stored
vectors while keeping the QUERY exact-side float:

- **SQ8 (scalar quantization)**: per-dimension min/max fitted with one
  map-side-combine aggregate (no shuffle, no Python); encode/decode are
  pure ``zip_with`` column expressions against literal parameter arrays,
  so the hot path stays inside whole-stage codegen.  4x compression,
  asymmetric distance (float query vs dequantized codes) costs one extra
  arithmetic op per element.
- **PQ (product quantization)**: split each vector into ``m`` subspaces,
  k-means each subspace to 256 centroids (driver-side NumPy on a BOUNDED
  sample — ``collect_bounded`` raises past the cap), store 1 byte per
  subspace.  d*4 bytes -> m bytes (32x at d=64, m=8).  Encoding is the
  ``operators.blockscan`` centroid argmin per subspace.  Search builds
  a per-query lookup table (m x 256 subspace distances) and every
  search form of both index types runs ONE multi-probe ADC scan
  (``_adc_scan``): lookup sums inside ``mapInPandas`` feeding the
  blockscan running top-k by ``(dist, id)`` — partition-local top-k,
  then a global k-bounded merge ordered by ``(dist, id)``, the same
  exchange-bounded shape as ``knn_join`` (O(parts x k) rows shuffled at
  any item count).  Tied ADC distances keep the lowest ids.

Both are approximate on the ITEM side only and must never silently
replace the exact oracle-checked path: recall vs ``operators.knn`` is
asserted in tests and reported per-method by the ``ann_recall_report``
driver query.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils import collect_bounded, spread
from . import blockscan as BS

__all__ = ["SQ8", "PQCodebook", "IVFPQIndex"]


class SQ8:
    """Per-dimension scalar quantization of an ``array<float>`` column to
    signed-int8 codes (stored range -128..127, logical range 0..255).

    Fit cost is ONE grouped aggregate with exactly TWO min/max expressions
    at ANY dimensionality: ``posexplode`` the vectors, hash-aggregate
    min/max per position (map-side combined to ``dim`` rows per partition
    before the only — tiny — exchange), collect the ``dim`` parameter rows
    bounded.  The previous form built 2*dim separate aggregate expressions,
    which splinters codegen and compiles slowly at the reference's real
    1536-d (VERDICT r03 #3).
    """

    def __init__(
        self,
        items: DataFrame,
        vec_col: str = "embedding",
        dim: int | None = None,
    ):
        if dim is None:
            first = items.select(vec_col).first()
            if first is None or first[0] is None:
                raise ValueError("SQ8: cannot infer dim from an empty table")
            dim = len(first[0])
        self.dim = dim
        # Null/short-array semantics match the old element_at form: null
        # arrays emit nothing from posexplode (element_at yielded NULLs that
        # min/max ignored); positions past a short array simply don't exist.
        stats = (
            items.select(F.posexplode(F.col(vec_col)).alias("__pos", "__v"))
            .groupBy("__pos")
            .agg(
                F.min(F.col("__v").cast("double")).alias("mn"),
                F.max(F.col("__v").cast("double")).alias("mx"),
            )
        )
        rows = collect_bounded(
            stats,
            ["__pos", "mn", "mx"],
            dim,
            "SQ8.fit",
            "Pass dim= explicitly if vectors are ragged beyond dim.",
        )
        by_pos = {r["__pos"]: (r["mn"], r["mx"]) for r in rows}
        missing = [i for i in range(dim) if i not in by_pos]
        if missing:
            raise ValueError(
                f"SQ8: no data for dimension(s) {missing[:5]} — vectors are"
                f" shorter than dim={dim}"
            )
        self.mins = np.array([by_pos[i][0] for i in range(dim)], dtype=np.float64)
        maxs = np.array([by_pos[i][1] for i in range(dim)], dtype=np.float64)
        spread_ = maxs - self.mins
        # Constant dimensions encode to 0 and decode to their min exactly.
        self.steps = np.where(spread_ > 0, spread_ / 255.0, 1.0)

    # Above this dimensionality the parameter vectors ride a broadcast
    # single-row join instead of literal arrays: Catalyst analysis/codegen
    # over 2*dim inline literals is O(minutes) at the reference's real
    # 1536-d, while the joined form compiles a constant-size plan at any
    # dim.  The literal form is kept below the threshold so existing
    # low-dim plan signatures (tests/golden_plans.json) are unchanged.
    MAX_LITERAL_DIM = 128

    def _lit_arr(self, vals) -> "F.Column":
        return F.array(*[F.lit(float(v)) for v in vals])

    def _with_params(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        params = spark.createDataFrame(
            [([float(v) for v in self.mins], [float(v) for v in self.steps])],
            "__sq8_mins array<double>, __sq8_steps array<double>",
        )
        return df.crossJoin(F.broadcast(params))

    @staticmethod
    def _encode_expr(vec_col, mn, st) -> "F.Column":
        centered = F.zip_with(
            F.col(vec_col), mn, lambda x, m: x.cast("double") - m
        )
        return F.zip_with(
            centered,
            st,
            lambda y, s: F.least(
                F.lit(127),
                F.greatest(F.lit(-128), F.round(y / s).cast("int") - 128),
            ).cast("tinyint"),
        )

    @staticmethod
    def _dequant_of(code_col, mn, st) -> "F.Column":
        scaled = F.zip_with(
            F.col(code_col),
            st,
            lambda c, s: (c.cast("double") + F.lit(128.0)) * s,
        )
        return F.zip_with(scaled, mn, lambda y, m: y + m)

    def encode(
        self, df: DataFrame, vec_col: str = "embedding", code_col: str = "code"
    ) -> DataFrame:
        """Append ``code_col`` as ``array<tinyint>`` — pure codegen: two
        ``zip_with`` passes against the parameter arrays (inline literals
        at low dim, a broadcast param row at high dim)."""
        if self.dim <= self.MAX_LITERAL_DIM:
            mn, st = self._lit_arr(self.mins), self._lit_arr(self.steps)
            return df.withColumn(code_col, self._encode_expr(vec_col, mn, st))
        return (
            self._with_params(df)
            .withColumn(
                code_col,
                self._encode_expr(
                    vec_col, F.col("__sq8_mins"), F.col("__sq8_steps")
                ),
            )
            .drop("__sq8_mins", "__sq8_steps")
        )

    def dequant_expr(self, code_col: str = "code") -> "F.Column":
        """Approximate reconstruction as a codegen expression:
        ``(code + 128) * step + min`` per element (literal params — use
        :meth:`dequantize` at high dim)."""
        mn, st = self._lit_arr(self.mins), self._lit_arr(self.steps)
        return self._dequant_of(code_col, mn, st)

    def dequantize(
        self,
        df: DataFrame,
        code_col: str = "code",
        out_col: str = "embedding",
    ) -> DataFrame:
        """Append ``out_col`` with the approximate reconstruction,
        dispatching literal vs broadcast-param form by dim (see
        MAX_LITERAL_DIM)."""
        if self.dim <= self.MAX_LITERAL_DIM:
            return df.withColumn(out_col, self.dequant_expr(code_col))
        return (
            self._with_params(df)
            .withColumn(
                out_col,
                self._dequant_of(
                    code_col, F.col("__sq8_mins"), F.col("__sq8_steps")
                ),
            )
            .drop("__sq8_mins", "__sq8_steps")
        )

    def knn(
        self,
        encoded: DataFrame,
        query_vec,
        k: int = 5,
        metric: str = "l2",
        id_col: str = "vec_id",
        code_col: str = "code",
        dist_col: str = "dist",
    ) -> DataFrame:
        """Asymmetric top-k: exact float query against dequantized codes,
        ranked by the shared native distance expression -> the same
        TakeOrderedAndProject plan as exact ``knn``."""
        from . import knn as K

        dec = self.dequantize(encoded, code_col, "__deq")
        q = F.array(*[F.lit(float(v)) for v in query_vec])
        dist = K.distance_expr(metric, F.col("__deq"), q)
        # Guard malformed rows the same way operators/knn.py does: a
        # wrong-dimension code (zip_with null-pads short inputs, so its
        # distance is NULL) must never occupy a top-k slot — size filter
        # plus NULLS LAST, not Spark's default NULLS FIRST.
        return (
            dec.filter(
                F.col(code_col).isNotNull()
                & (F.size(F.col(code_col)) == self.dim)
            )
            .select(id_col, dist.alias(dist_col))
            .orderBy(F.col(dist_col).asc_nulls_last())
            .limit(k)
        )


def _kmeanspp_init(X: np.ndarray, k: int, rng) -> np.ndarray:
    """Vectorized k-means++ (D²-sampling) seeding.  One O(n*d) distance
    update per chosen center — total O(n*k*d), about the cost of a single
    Lloyd iteration, and it buys a far better local optimum than uniform
    sampling (Arthur & Vassilvitskii, SODA'07: O(log k)-competitive in
    expectation).  Deterministic for a fixed rng state."""
    n = X.shape[0]
    centers = np.empty((k, X.shape[1]), dtype=X.dtype)
    # rng may be a legacy RandomState or a new-style Generator — use only
    # the methods they share (choice / uniform).
    centers[0] = X[int(rng.choice(n))]
    # Running min squared distance to the chosen set.
    d2 = ((X - centers[0]) ** 2).sum(1)
    for i in range(1, k):
        tot = d2.sum()
        if tot <= 0.0:
            # All points coincide with chosen centers (k > distinct
            # points): fall back to uniform picks for the remainder.
            centers[i:] = X[rng.choice(n, size=k - i)]
            break
        # D² sampling via inverse-CDF on the cumulative weights.
        cum = np.cumsum(d2)
        idx = int(np.searchsorted(cum, rng.uniform() * tot))
        idx = min(idx, n - 1)
        centers[i] = X[idx]
        np.minimum(d2, ((X - centers[i]) ** 2).sum(1), out=d2)
    return centers


def _kmeans(X: np.ndarray, k: int, iters: int, rng) -> np.ndarray:
    """Seeded Lloyd's k-means (NumPy, driver-side) for PQ sub-codebooks,
    k-means++ initialized.  Deterministic for a fixed rng state; empty
    clusters are re-seeded from DISTINCT farthest points (farthest-first
    order) so all k codes stay usable — re-seeding them all to the same
    point would leave permanent duplicates that never attract members."""
    n = X.shape[0]
    if n >= k:
        centers = _kmeanspp_init(X, k, rng)
    else:
        centers = X[rng.choice(n, size=k, replace=True)].copy()
    for _ in range(iters):
        # (n, k) squared distances via the expansion trick.
        d2 = (
            (X * X).sum(1)[:, None]
            - 2.0 * X @ centers.T
            + (centers * centers).sum(1)[None, :]
        )
        assign = d2.argmin(1)
        counts = np.bincount(assign, minlength=k)
        empties = np.flatnonzero(counts == 0)
        if empties.size:
            far = np.argsort(d2.min(1))[::-1]
            for i, j in enumerate(empties):
                centers[j] = X[far[i % n]]
        # Vectorized mean update: one weighted bincount per dimension
        # (O(n*d) C loops) instead of k boolean masks over X — the mask
        # loop was the fit's real bottleneck at codes=256, n=100k+.
        sums = np.stack(
            [
                np.bincount(assign, weights=X[:, c], minlength=k)
                for c in range(X.shape[1])
            ],
            axis=1,
        )
        nz = counts > 0
        centers[nz] = sums[nz] / counts[nz, None]
    return centers


def _adc_scan(
    codes: DataFrame,
    tables: dict,
    k: int,
    pids: list,
    probe_field: str,
    id_col: str,
    code_col: str,
    dist_col: str,
) -> DataFrame:
    """The one multi-probe ADC scorer behind every PQ / IVFPQ search: a
    ``mapInPandas`` pass emitting each partition's top-``k`` per probe by
    ``(dist, id)`` (the blockscan running top-k: ties keep the lowest
    ids).  ``tables`` (broadcast) maps a cluster id — ``None`` for plain
    PQ codes without ``cluster_id`` — to ``(probe indices, their (p, m,
    codes) lookup tables)``; ADC distance sums the lookups subspace by
    subspace.  Output ``(probe_field, id_col, dist_col)``, the probe
    column holding ``pids[index]``."""
    bc = codes.sparkSession.sparkContext.broadcast(tables)
    itype = dict(codes.dtypes)[id_col]
    probe_col = probe_field.split()[0]
    schema = f"{probe_field}, {id_col} {itype}, {dist_col} double"
    tile = BS.TILE

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tabs = bc.value
        top = BS.TopK(k, len(pids))
        for pdf in batches:
            groups = (
                pdf.groupby("cluster_id") if None not in tabs else [(None, pdf)]
            )
            for c, sub in groups:
                if c not in tabs or sub.empty:
                    continue
                probers, luts = tabs[c]
                C = np.asarray(list(sub[code_col]), dtype=np.int16) + 128
                ids = sub[id_col].to_numpy()
                for r0, r1, c0, c1 in BS.tiles(len(C), len(probers), tile):
                    D = np.zeros((c1 - c0, r1 - r0))
                    for j in range(C.shape[1]):
                        D += luts[c0:c1, j, :][:, C[r0:r1, j]]
                    top.push(D.T, ids[r0:r1], probers[c0:c1])
        out = top.rows(pids)
        if out:
            yield pd.DataFrame(out, columns=[probe_col, id_col, dist_col])

    return codes.mapInPandas(gen, schema=schema)


def _rank_per_probe(
    local: DataFrame, probe_id: str, id_col: str, dist_col: str, k: int
) -> DataFrame:
    """Per-probe top-``k`` by ``(dist, id)`` (a window rank)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(probe_id).orderBy(dist_col, id_col)
    return (
        local.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


class PQCodebook:
    """Product quantization: ``m`` subspaces x 256 centroids, 1 byte per
    subspace per vector (d*4 -> m bytes).  L2 metric (cosine: normalize
    first — on unit vectors cosine distance is squared-L2 / 2)."""

    def __init__(
        self,
        items: DataFrame,
        vec_col: str = "embedding",
        m: int = 8,
        codes: int = 256,
        sample_rows: int = 100_000,
        iters: int = 10,
        seed: int = 42,
        fit_mode: str = "auto",
    ):
        rows = collect_bounded(
            items,
            [vec_col],
            sample_rows,
            "PQCodebook",
            "Fit on a bounded sample (df.sample(...)) — the codebook only"
            " needs a representative subset, never the full table.",
        )
        if not 2 <= codes <= 256:
            raise ValueError(
                f"PQCodebook: codes must be in [2, 256] (one stored byte"
                f" per subspace), got {codes}"
            )
        X = np.asarray(
            [r[0] for r in rows if r[0] is not None], dtype=np.float64
        )
        if X.ndim != 2 or X.shape[0] == 0:
            raise ValueError("PQCodebook: no usable vectors in the sample")
        # Canonical row order BEFORE fitting: the collected sample's row
        # SET is stable run to run, but its ORDER rides shuffle/cache
        # task-completion order (collect_bounded's limit over a sampled,
        # repartitioned input), and k-means++ draws index into X — so an
        # identical corpus could yield different codebooks per run
        # (observed as run-to-run IVFPQ recall spread at the 200k x 1536
        # probe shape).  A bytewise argsort over whole rows is a total,
        # deterministic order (ties are bit-identical vectors —
        # interchangeable for k-means), making the fit a pure function
        # of the sample multiset.  ~10 ms at 90k x 1536.
        Xc = np.ascontiguousarray(X)
        X = Xc[
            np.argsort(
                Xc.view([("", f"V{Xc.shape[1] * 8}")]).ravel(), kind="stable"
            )
        ]
        d = X.shape[1]
        if d % m:
            raise ValueError(f"PQCodebook: dim {d} not divisible by m={m}")
        self.m, self.codes, self.dim = m, codes, d
        self.dsub = d // m
        # The m sub-space fits are independent k-means problems.  Each
        # sub-space derives its OWN RandomState from (seed, j) — a shared
        # sequential rng would make results depend on completion order —
        # and _kmeans is deterministic for a fixed (slice, rng), so WHERE
        # a fit runs cannot change its codebook: the three modes below
        # produce bit-identical books (pinned in test_quant.py).
        #
        # - "spark": one executor task per sub-space
        #   (sc.parallelize(m slices)).  The scale-correct form — the
        #   driver ships each task its (n, dsub) slice (~11 MB at the 90k
        #   x 1536 m=96 residual shape) and collects (codes, dsub)
        #   centroids back; process parallelism also beats the GIL-shared
        #   thread pool on one host (measured 97 vs 127 s for 32
        #   probe-shape fits under load — quant_probe.py records the
        #   end-to-end build delta).
        # - "threads": driver thread pool (NumPy kernels release the GIL;
        #   the r5 form).  Fallback when no usable SparkSession.
        # - "auto": "spark" when the work is heavy enough to amortize a
        #   job launch (fit matrix >= ~8 MB), else "threads" — unit-test
        #   fixtures stay in-process, real builds distribute.
        if fit_mode not in ("auto", "spark", "threads"):
            raise ValueError(
                f"PQCodebook: fit_mode must be auto|spark|threads,"
                f" got {fit_mode!r}"
            )
        self.books = np.empty((m, codes, self.dsub))
        dsub = self.dsub

        def fit_sub(j: int, sub: np.ndarray) -> np.ndarray:
            # Wrap the derived seed: RandomState only accepts [0, 2**32).
            return _kmeans(
                sub,
                codes,
                iters,
                np.random.RandomState((seed * 10_007 + j) % (2**32)),
            )

        spark = items.sparkSession
        mode = fit_mode
        if mode == "auto":
            mode = "spark" if spark is not None and X.nbytes >= 8 << 20 else "threads"
        if mode == "spark" and spark is None:  # pragma: no cover
            mode = "threads"
        if mode == "spark":
            slices = [
                (j, np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub]))
                for j in range(m)
            ]
            fitted = dict(
                spark.sparkContext.parallelize(slices, numSlices=m)
                .map(lambda t: (t[0], fit_sub(t[0], t[1])))
                .collect()
            )
            for j in range(m):
                self.books[j] = fitted[j]
        else:
            from concurrent.futures import ThreadPoolExecutor

            workers = min(m, os.cpu_count() or 8)
            with ThreadPoolExecutor(max_workers=workers) as pool:
                list(
                    pool.map(
                        lambda j: self.books.__setitem__(
                            j, fit_sub(j, X[:, j * dsub : (j + 1) * dsub])
                        ),
                        range(m),
                    )
                )

    @classmethod
    def from_books(cls, books) -> "PQCodebook":
        """Construct a codebook from pre-fitted sub-codebooks — shape
        ``(m, codes, dsub)`` — skipping the k-means fit entirely.

        This is the deserialization half of persisting a fitted codebook
        (ship ``pq.books`` however you like, rebuild with
        ``from_books``), and the fixed-codebook seam the ADC oracle
        query (queries.pq_adc_fixed_codebook) uses to make the
        encode/ADC path DuckDB-checkable independent of k-means."""
        b = np.ascontiguousarray(np.asarray(books, dtype=np.float64))
        if b.ndim != 3:
            raise ValueError(
                f"PQCodebook.from_books: books must be (m, codes, dsub),"
                f" got shape {b.shape}"
            )
        if not 2 <= b.shape[1] <= 256:
            raise ValueError(
                f"PQCodebook.from_books: codes must be in [2, 256], got"
                f" {b.shape[1]}"
            )
        self = cls.__new__(cls)
        self.m, self.codes, self.dsub = map(int, b.shape)
        self.dim = self.m * self.dsub
        self.books = b
        return self

    def _lut(self, q: np.ndarray) -> np.ndarray:
        """The ``(m, codes)`` ADC lookup table for one query (or query
        residual): squared L2 between each subvector of ``q`` and every
        sub-codebook centroid.  Shared by every search path."""
        dsub = self.dsub
        return np.stack(
            [
                BS.distances(b, q[None, j * dsub : (j + 1) * dsub], "l2")[:, 0]
                for j, b in enumerate(self.books)
            ]
        )

    def encode(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        code_col: str = "pq_code",
        carry_cols: tuple = (),
    ) -> DataFrame:
        """``(id, *carry_cols, pq_code array<tinyint>)`` — one Arrow batch
        pass; per batch, each subspace's nearest-centroid search is one
        GEMM.  ``carry_cols`` ride through unchanged (e.g. ``cluster_id``
        for the IVF+PQ layout)."""
        books = self.books
        m, dsub, dim = self.m, self.dsub, self.dim
        tile = BS.TILE
        dtypes = dict(df.dtypes)
        carried = ", ".join(f"{c} {dtypes[c]}" for c in carry_cols)
        out_schema = (
            f"{id_col} {dtypes[id_col]}, "
            + (carried + ", " if carried else "")
            + f"{code_col} array<tinyint>"
        )

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                X, ok = BS.rows(pdf[vec_col].to_numpy(), dim)
                if not ok.any():
                    continue
                pdf = pdf[ok]
                code = np.empty((X.shape[0], m), dtype=np.int16)
                for j in range(m):
                    sub = X[:, j * dsub : (j + 1) * dsub]
                    code[:, j] = BS.nearest(sub, books[j], 1, tile)[:, 0]
                out = {id_col: pdf[id_col].values}
                for c in carry_cols:
                    out[c] = pdf[c].values
                out[code_col] = list((code - 128).astype(np.int8))
                yield pd.DataFrame(out)

        return spread(df.select(id_col, *carry_cols, vec_col)).mapInPandas(
            gen, schema=out_schema
        )

    def search(
        self,
        encoded: DataFrame,
        query_vec,
        k: int = 5,
        id_col: str = "vec_id",
        code_col: str = "pq_code",
        dist_col: str = "dist",
    ) -> DataFrame:
        """ADC top-k: one m x 256 lookup table per query (driver-built,
        tiny), then the one-probe case of the ADC scan — each partition
        emits only its top-k by ``(dist, id)``, and the global
        ``orderBy(dist, id).limit(k)`` sees O(parts x k) rows regardless
        of item count."""
        q = np.asarray(list(map(float, query_vec)), dtype=np.float64)
        if q.shape[0] != self.dim:
            raise ValueError(
                f"query dim {q.shape[0]} != codebook dim {self.dim}"
            )
        local = _adc_scan(
            spread(encoded.select(id_col, code_col)),
            {None: (np.zeros(1, dtype=np.int64), self._lut(q)[None])},
            k, [0], "__p int", id_col, code_col, dist_col,
        )
        return (
            local.select(id_col, dist_col).orderBy(dist_col, id_col).limit(k)
        )

    def search_many(
        self,
        encoded: DataFrame,
        probes: DataFrame,
        k: int = 5,
        probe_id: str = "probe_id",
        probe_vec: str = "embedding",
        id_col: str = "vec_id",
        code_col: str = "pq_code",
        dist_col: str = "dist",
        max_probe_rows: int = 100_000,
    ) -> DataFrame:
        """Batch ADC retrieval: all probes' lookup tables are built once
        (driver-side, bounded — ``collect_bounded`` raises past the cap)
        and the code table is scanned ONCE for every probe, emitting only
        each partition's per-probe top-k; the global rank sees
        O(parts x probes x k) rows regardless of item count — the same
        exchange-bounded shape as ``knn_join`` / ``IVFIndex.search_many``.
        """
        rows = collect_bounded(
            probes,
            [probe_id, probe_vec],
            max_probe_rows,
            "PQCodebook.search_many",
            "Batch the probes: the lookup tables for all probes are built"
            " driver-side by design (memory ~ probes x m x codes x 8 B).",
        )
        rows = [r for r in rows if r[1] is not None and len(r[1]) == self.dim]
        # (p, m, codes) — every probe's lookup table.
        luts = np.asarray(
            [self._lut(np.asarray(r[1], dtype=np.float64)) for r in rows]
        ).reshape(len(rows), self.m, self.codes)
        ptype = dict(probes.dtypes)[probe_id]
        local = _adc_scan(
            spread(encoded.select(id_col, code_col)),
            {None: (np.arange(len(rows)), luts)},
            k, [r[0] for r in rows], f"{probe_id} {ptype}",
            id_col, code_col, dist_col,
        )
        return _rank_per_probe(local, probe_id, id_col, dist_col, k)

    @staticmethod
    def refine(
        candidates: DataFrame,
        items: DataFrame,
        probes: DataFrame,
        k: int = 5,
        metric: str = "l2",
        probe_id: str = "probe_id",
        id_col: str = "vec_id",
        item_vec: str = "embedding",
        probe_vec: str = "embedding",
        dist_col: str = "dist",
    ) -> DataFrame:
        """Exact re-rank of an ADC shortlist (the standard IVFADC+R
        pattern): PQ cannot rank items whose true distances differ by less
        than its quantization error, so production search takes an ADC
        shortlist of ~4-10x k and re-scores it with the ORIGINAL vectors.

        Join shape is scale-correct: the shortlist (probes x shortlist
        rows) and the probe table are both broadcast, so the only pass
        over the big item table is one broadcast-hash join, and the final
        per-probe rank windows O(probes x shortlist) rows.
        """
        from . import knn as K

        cand = candidates.select(probe_id, id_col)
        it = items.select(id_col, F.col(item_vec).alias("__ivec"))
        pr = probes.select(probe_id, F.col(probe_vec).alias("__pvec"))
        dist = K.distance_expr(metric, F.col("__ivec"), F.col("__pvec"))
        scored = (
            it.join(F.broadcast(cand), id_col)
            .join(F.broadcast(pr), probe_id)
            .select(probe_id, id_col, dist.alias(dist_col))
        )
        return _rank_per_probe(scored, probe_id, id_col, dist_col, k)


class IVFPQIndex:
    """IVF coarse quantizer + PQ on per-cluster RESIDUALS — the faiss
    IVFADC layout, and the composition BASELINE.md names as the 100 TB
    serving design: a probe prunes to ``nprobe`` cluster partitions, the
    pruned candidates are scanned as m-byte codes (32x at d=64/m=8), and
    an exact refine re-ranks the shortlist.

    Quantizing residuals (vector minus its cluster centroid) is what
    makes PQ work on clustered data: the sub-codebooks are fitted to the
    RESIDUAL scale, so within-cluster ranking stays meaningful where
    whole-vector PQ collapses (measured in scripts/quant_probe.py — plain
    PQ refined recall 0.25 at a 50-shortlist on the 1M clustered table).

    Index layout mirrors :class:`operators.ann.IVFIndex`: the "index" IS
    the data layout — ``(id, cluster_id, pq_code)`` partitioned by
    ``cluster_id``, so a saved index turns probes into partition pruning.
    """

    def __init__(
        self,
        items: DataFrame,
        k_clusters: int = 16,
        m: int = 8,
        codes: int = 256,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        sample_rows: int = 100_000,
        iters: int = 10,
        fit_fraction: float = 1.0,
        coarse_max_iter: int = 20,
        fit_mode: str = "auto",
        coarse_fit_impl: str = "ml",
    ):
        from .ann import IVFIndex

        self.id_col, self.vec_col = id_col, vec_col
        # coarse_fit_impl="canonical" + the (always-canonical) PQ fits
        # make the WHOLE build deterministic: rebuilding over the same
        # corpus reproduces centroids, codebooks, and recall tiers
        # byte-for-byte (the "ml" coarse fit's distributed aggregation
        # order varies run to run — BASELINE.md records the measured
        # recall spread).
        self.base = IVFIndex(
            items, k_clusters=k_clusters, id_col=id_col, vec_col=vec_col,
            seed=seed, fit_fraction=fit_fraction, max_iter=coarse_max_iter,
            fit_impl=coarse_fit_impl, sample_rows=sample_rows,
        )
        self.centroids = np.asarray(self.base.centroids, dtype=np.float64)
        resid = self._residuals(self.base.indexed)
        # Codebooks are fitted on a bounded residual sample; the base
        # index is cached, so the sizing count is cheap.
        n = self.base.indexed.count()
        sample = resid.select(F.col("__resid").alias("embedding"))
        if n > sample_rows:
            sample = sample.sample(False, sample_rows / n * 0.9, seed=seed)
        self.pq = PQCodebook(
            sample, m=m, codes=codes, sample_rows=sample_rows,
            iters=iters, seed=seed, fit_mode=fit_mode,
        )
        self.indexed = (
            self._residual_codes(resid).repartition("cluster_id").cache()
        )

    @classmethod
    def from_params(
        cls,
        items: DataFrame,
        centroids,
        books,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFPQIndex":
        """Build the composed IVFADC layout from FIXED coarse centroids
        and PQ sub-codebooks — no k-means anywhere, so the ENTIRE
        coarse-assign -> residual-encode -> ADC-shortlist -> exact-refine
        composition becomes deterministic and DuckDB-expressible.  The
        ``IVFIndex.from_centroids`` x ``PQCodebook.from_books`` move
        applied to the composition itself (VERDICT r10 #2); the
        ``ivfpq_fixed_books`` oracle query is the consumer.  Also the
        deserialization seam for externally-fitted parameters."""
        self = cls.__new__(cls)
        self.id_col, self.vec_col = id_col, vec_col
        self.base = None
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.pq = PQCodebook.from_books(books)
        if self.pq.dim != self.centroids.shape[1]:
            raise ValueError(
                f"IVFPQIndex.from_params: books dim {self.pq.dim} !="
                f" centroid dim {self.centroids.shape[1]}"
            )
        self.indexed = (
            self._residual_codes(
                self._residuals(self._assign(spread(items)))
            )
            .repartition("cluster_id")
            .cache()
        )
        return self

    def _residuals(self, assigned: DataFrame) -> DataFrame:
        """Append ``__resid`` (vector minus its cluster centroid) to a
        table that already carries ``cluster_id`` — broadcast join with
        the tiny centroid table + one zip_with, no Python."""
        spark = assigned.sparkSession
        cent_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(self.centroids)],
            "cluster_id int, __cent array<double>",
        )
        return assigned.join(F.broadcast(cent_df), "cluster_id").withColumn(
            "__resid",
            F.zip_with(
                F.col(self.vec_col),
                F.col("__cent"),
                lambda x, c: x.cast("double") - c,
            ),
        )

    def _residual_codes(self, resid: DataFrame) -> DataFrame:
        return self.pq.encode(
            resid,
            id_col=self.id_col,
            vec_col="__resid",
            carry_cols=("cluster_id",),
        )

    def _assign(self, items: DataFrame) -> DataFrame:
        """Nearest-centroid ``cluster_id`` without a k-means model (works
        on loaded indexes too); literal-vs-GEMM dispatch in
        :func:`ann.nearest_centroid_col`."""
        if self.base is not None:
            return self.base.assign(items)
        from .ann import nearest_centroid_col

        return items.withColumn(
            "cluster_id", nearest_centroid_col(self.centroids, self.vec_col)
        )

    def add(self, new_items: DataFrame) -> None:
        """Incrementally insert vectors against the FROZEN coarse
        centroids and codebooks (pgvector-ivfflat insert semantics, same
        contract as :meth:`IVFIndex.add`): new rows are assigned, residual-
        encoded, and merged into the cached layout.  Under distribution
        drift both the assignment and the codebooks degrade gradually —
        the remedy is an offline rebuild, not an in-place refit."""
        codes = self._residual_codes(
            self._residuals(self._assign(spread(new_items)))
        )
        old = self.indexed
        self.indexed = (
            old.unionByName(codes).repartition("cluster_id").cache()
        )
        old.unpersist()

    def append_to(self, path: str, new_items: DataFrame) -> None:
        """Insert into a SAVED index: new codes append as files inside
        their clusters' existing partition directories — partition pruning
        on probes is unchanged, no rewrite of prior data."""
        self._residual_codes(
            self._residuals(self._assign(spread(new_items)))
        ).write.partitionBy("cluster_id").mode("append").parquet(
            f"{path}/codes"
        )

    def save(self, path: str) -> None:
        """Persist as DATA LAYOUT: the code table parquet-partitioned by
        ``cluster_id`` (probes prune to their clusters' directories) plus
        tiny centroid and codebook tables."""
        spark = self.indexed.sparkSession
        self.indexed.write.partitionBy("cluster_id").mode(
            "overwrite"
        ).parquet(f"{path}/codes")
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(self.centroids)],
            "cluster_id int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
        spark.createDataFrame(
            [
                (j, c, [float(x) for x in self.pq.books[j, c]])
                for j in range(self.pq.m)
                for c in range(self.pq.codes)
            ],
            "subspace int, code int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")

    @classmethod
    def load(
        cls,
        spark,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFPQIndex":
        """Reopen a saved index without refitting; ``search`` on a loaded
        index reads only the probed clusters' files.  ``vec_col`` names
        the vector column of any ``refine_items`` table passed to
        :meth:`search` (the codes themselves carry no vectors)."""
        self = cls.__new__(cls)
        self.id_col, self.vec_col = id_col, vec_col
        self.base = None
        self.centroids = np.asarray(
            [
                r["centroid"]
                for r in spark.read.parquet(f"{path}/centroids")
                .orderBy("cluster_id")
                .collect()
            ],
            dtype=np.float64,
        )
        book_rows = (
            spark.read.parquet(f"{path}/codebooks")
            .orderBy("subspace", "code")
            .collect()
        )
        m = 1 + max(r["subspace"] for r in book_rows)
        codes = 1 + max(r["code"] for r in book_rows)
        dsub = len(book_rows[0]["centroid"])
        pq = PQCodebook.__new__(PQCodebook)
        pq.m, pq.codes, pq.dsub, pq.dim = m, codes, dsub, m * dsub
        pq.books = np.asarray(
            [r["centroid"] for r in book_rows], dtype=np.float64
        ).reshape(m, codes, dsub)
        self.pq = pq
        self.indexed = spark.read.parquet(f"{path}/codes")
        return self

    def _probe_tables(self, q: np.ndarray, nprobe: int) -> list:
        """``[(cluster, lut)]`` for the ``nprobe`` clusters nearest ``q``:
        each cluster's lookup table is against the probe's RESIDUAL to
        that centroid (what makes IVF+PQ distances valid:
        ``||q - x||^2 = ||(q - c) - r||^2`` for ``x = c + r``)."""
        d = np.linalg.norm(self.centroids - q[None, :], axis=1)
        return [
            (int(c), self.pq._lut(q - self.centroids[c]))
            for c in np.argsort(d)[:nprobe]
        ]

    def _scan(self, by_cluster: dict, want: int, pids, probe_field, dist_col):
        """The ADC scan over the probed clusters' code partitions."""
        tables = {
            c: (np.asarray([pi for pi, _ in v]), np.stack([t for _, t in v]))
            for c, v in by_cluster.items()
        }
        return _adc_scan(
            self.indexed.filter(F.col("cluster_id").isin(sorted(tables)))
            .select(self.id_col, "cluster_id", "pq_code"),
            tables, want, pids, probe_field, self.id_col, "pq_code", dist_col,
        )

    def search(
        self,
        probe,
        k: int = 5,
        nprobe: int = 2,
        shortlist: int = 50,
        refine_items: DataFrame | None = None,
        dist_col: str = "dist",
    ) -> DataFrame:
        """ADC top-k within the ``nprobe`` nearest clusters — the one-probe
        case of :meth:`search_many`'s scan, each probed cluster with its
        own residual lookup table.  With ``refine_items`` the ADC
        shortlist is exactly re-ranked from the original vectors
        (IVFADC+R); otherwise the ADC top-k returns.  Ties order by id.
        """
        q = np.asarray(list(map(float, probe)), dtype=np.float64)
        id_col = self.id_col
        want = max(k, shortlist if refine_items is not None else k)
        by_cluster = {c: [(0, t)] for c, t in self._probe_tables(q, nprobe)}
        cand = (
            self._scan(by_cluster, want, [0], "__p int", dist_col)
            .select(id_col, dist_col)
            .orderBy(dist_col, id_col)
            .limit(want)
        )
        if refine_items is None:
            return cand.limit(k)
        from . import knn as K

        qlit = F.array(*[F.lit(float(v)) for v in q])
        it = refine_items.select(
            id_col, F.col(self.vec_col).alias("__ivec")
        )
        return (
            it.join(F.broadcast(cand.select(id_col)), id_col)
            .select(
                id_col,
                K.distance_expr("l2", F.col("__ivec"), qlit).alias(dist_col),
            )
            .orderBy(dist_col, id_col)
            .limit(k)
        )

    def search_many(
        self,
        probes: DataFrame,
        shortlist: int = 50,
        nprobe: int = 2,
        probe_id: str = "probe_id",
        probe_vec: str = "embedding",
        dist_col: str = "dist",
        max_probe_rows: int = 100_000,
    ) -> DataFrame:
        """Batch ADC retrieval: every probe's per-cluster residual lookup
        tables are built once driver-side (bounded), the code table is
        scanned ONCE for the union of probed clusters (each cluster's rows
        scored only against the probes that probed it), and each partition
        emits per-probe top-``shortlist`` rows — O(parts x probes x
        shortlist) into the final rank.  Returns the ADC shortlist
        ``(probe_id, id, dist)``; compose with
        :meth:`PQCodebook.refine` for the exact re-rank (IVFADC+R), as
        ``ann_recall_report``'s ``ivfpq`` method does.
        """
        rows = collect_bounded(
            probes,
            [probe_id, probe_vec],
            max_probe_rows,
            "IVFPQIndex.search_many",
            "Batch the probes: per-probe lookup tables are built"
            " driver-side by design (memory ~ probes x nprobe x m x codes"
            " x 8 B).",
        )
        rows = [
            r for r in rows if r[1] is not None and len(r[1]) == self.pq.dim
        ]
        # cluster -> [(probe index, residual lookup table)]
        by_cluster: dict[int, list] = {}
        for pi, (_, vec) in enumerate(rows):
            q = np.asarray(vec, dtype=np.float64)
            for c, t in self._probe_tables(q, nprobe):
                by_cluster.setdefault(c, []).append((pi, t))
        local = self._scan(
            by_cluster, shortlist, [r[0] for r in rows],
            f"{probe_id} {dict(probes.dtypes)[probe_id]}", dist_col,
        )
        return _rank_per_probe(local, probe_id, self.id_col, dist_col, shortlist)
