"""Resident vector block: single-probe L2 top-k from one float64 block
held on the driver per table version.

The reference answers ``ORDER BY embedding <-> ? LIMIT 5`` from pgvector in
milliseconds (SSEOpenAIController.java:315-316); a native ``knn`` scans
the whole table for every question.  :func:`search` keeps the vector
column of a plain file scan on the driver, one block per table version,
and answers each question with a NumPy top-k — reusing one block across a
session's questions is the idea of *Incremental ... Top-K Similarity
Search in Interactive Data Analysis Sessions* (EDBT 2020).  The hits come
back as a one-partition local relation, so what is built over them
(summaries, SSE events) never scans the table again.

A version is the scan's input files with each one's size and
modification time, read afresh per question: a table that was appended
to or overwritten (and re-read) builds a new block, never serves the old
one.  Anything but a plain, uncached file scan — or a table over
``rows x dim > blockscan.TILE`` values — returns None, and the caller
keeps the native scan.

Results equal ``knn(..., metric="l2", tie_cols=("id",))`` bit for bit.
Candidates are ranked by BLAS with slack: every row within twice the
error bound of the BLAS k-th distance.  Each candidate's squared distance
is then recomputed the way the native expression computes it — float64
differences squared (Spark's ``x ** 2`` is fdlibm ``pow``, which returns
``x*x`` for y = 2) and summed left to right — and the survivors are
ordered by ``(distance, id)``.  NULL and wrong-dimension rows have no
distance and are skipped, as natively.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from . import blockscan as BS

__all__ = ["search"]

_BLOCKS: dict = {}  # table root paths -> the block of its latest version


class _Block:
    """One table version's rows with a ``dim``-long vector: float64
    vectors ``X``, the largest squared norm, the projected columns, and
    each row's rank by id.  ``spec`` is ``(version, dim, cols)``."""

    def __init__(self, spec, items: DataFrame, small: bool):
        self.spec, self.table = spec, None
        _, self.dim, cols = spec
        if not small:  # over the size bound: the native scan answers
            return
        self.schema = items.select(*cols).schema
        table = items.select(*cols, "embedding").toArrow()
        vecs = table.column("embedding").to_numpy(zero_copy_only=False)
        X, ok = BS.rows(vecs, self.dim)
        self.X, self.max_sq = X, (X * X).sum(1).max(initial=0.0)
        self.table = table.drop_columns(["embedding"]).filter(pa.array(ok))
        ids = self.table.column("id").to_pylist()
        # Spark's ascending order: NULL ids first.
        order = sorted(range(len(ids)), key=lambda i: (ids[i] is not None, ids[i]))
        self.id_rank = np.empty(len(ids), np.int64)
        self.id_rank[order] = np.arange(len(ids))

    def topk(self, probe: np.ndarray, k: int):
        """Row positions and L2 distances of the ``k`` nearest rows."""
        X, n = self.X, len(self.X)
        cand = np.arange(n)
        if n > k > 0:
            D = BS.distances(X, probe[None, :], "l2")[:, 0]
            kth = np.partition(D, k - 1)[k - 1]
            err = 8 * (self.dim + 2) * np.finfo(float).eps
            cand = np.flatnonzero(D <= kth + err * (self.max_sq + probe @ probe))
        diff = X[cand] - probe
        exact = np.cumsum(diff * diff, axis=1)[:, -1] if n else np.empty(0)
        order = np.lexsort((self.id_rank[cand], exact))[:k]
        return cand[order], np.sqrt(exact[order])


def _version(df: DataFrame):
    """``(root paths, files)`` of a plain, uncached file scan — each file
    with its size and modification time — or None for anything else."""
    jdf = df._jdf
    plan = jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    if jdf.storageLevel().isValid():  # cached: the native scan is warm
        return None
    spark = df.sparkSession
    conf, Path = spark._jsc.hadoopConfiguration(), spark._jvm.org.apache.hadoop.fs.Path
    files = []
    for f in sorted(df.inputFiles()):
        p = Path(f)
        st = p.getFileSystem(conf).getFileStatus(p)
        files.append((f, st.getLen(), st.getModificationTime()))
    return rel.location().rootPaths().mkString("\n"), tuple(files)


def search(
    items: DataFrame, probe: Sequence[float], k: int, cols: Sequence[str]
) -> DataFrame | None:
    """``items.select(*cols, "dist")`` of the ``k`` rows whose
    ``embedding`` is nearest to ``probe`` by L2, ordered by
    ``(dist, id)``, from the resident block — or None when ``items`` has
    none (see the module docstring).  ``cols`` must include ``id``."""
    key = _version(items)
    if key is None:
        return None
    roots, version = key
    spec = (version, len(probe), tuple(cols))
    block = _BLOCKS.get(roots)
    if block is None or block.spec != spec:
        small = 0 < len(probe) and items.count() * len(probe) <= BS.TILE
        block = _BLOCKS[roots] = _Block(spec, items, small)
    if block.table is None:
        return None
    q = np.asarray(probe, np.float32).astype(np.float64)
    idx, dist = block.topk(q, k)
    hits = block.table.take(pa.array(idx, pa.int64()))
    hits = hits.append_column("dist", pa.array(dist, pa.float64()))
    schema = T.StructType([*block.schema, T.StructField("dist", T.DoubleType())])
    return items.sparkSession.createDataFrame(hits, schema).coalesce(1)
