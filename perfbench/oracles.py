"""Output oracles.  They run outside the timed region; a mismatch counts
the operation as failed."""

from __future__ import annotations

import math

import numpy as np
import pyarrow.parquet as pq

DIST_TOL = 1e-4  # distances agree to 4 decimals
EVENTS_PER_HIT = 3


class VectorOracle:
    """NumPy brute-force L2 top-k over the persisted vector table, ties
    broken by (dist, id)."""

    def __init__(self, ids: list[str], mat: np.ndarray):
        self.ids = np.array(ids, dtype=object)
        self.mat = np.asarray(mat, dtype=np.float64)
        self.sq = (self.mat * self.mat).sum(1)
        self.row_of = {i: n for n, i in enumerate(self.ids)}
        self.id_rank = np.empty(len(self.ids), dtype=np.int64)
        self.id_rank[np.argsort(self.ids)] = np.arange(len(self.ids))

    @classmethod
    def from_parquet(cls, table_path: str) -> "VectorOracle":
        t = pq.read_table(table_path, columns=["id", "embedding"])
        flat = t.column("embedding").combine_chunks().flatten()
        mat = np.asarray(flat.to_numpy(zero_copy_only=False)).reshape(t.num_rows, -1)
        return cls(t.column("id").to_pylist(), mat)

    def exact_dists(self, probe: np.ndarray, rows: np.ndarray) -> np.ndarray:
        d = self.mat[rows] - probe
        return np.sqrt((d * d).sum(1))

    def topk(self, probes, k: int = 5, slack: int = 15):
        """For each probe row, ``(ids, dists)`` of its k nearest items.
        Candidates come from the expanded-square form; the final order is
        exact differences sorted by (dist, id)."""
        probes = np.atleast_2d(np.asarray(probes, dtype=np.float64))
        approx = self.sq[None, :] - 2.0 * probes @ self.mat.T
        m = min(k + slack, len(self.ids))
        cand = np.argpartition(approx, m - 1, axis=1)[:, :m]
        diff = self.mat[cand] - probes[:, None, :]
        dist = np.sqrt((diff * diff).sum(-1))
        order = np.lexsort((self.id_rank[cand], dist), axis=-1)[:, :k]
        top = np.take_along_axis(cand, order, 1)
        top_d = np.take_along_axis(dist, order, 1)
        return [
            ([self.ids[r] for r in rows], [float(x) for x in d])
            for rows, d in zip(top, top_d)
        ]

    def hits_match(self, probe, got_ids: list[str], got_dists: list[float] | None,
                   want: tuple[list[str], list[float]]) -> bool:
        """Rank by rank, each returned id must sit at the oracle's distance
        for that rank (so exact ties may swap), ids must be distinct, and
        reported distances must equal the id's true distance."""
        want_ids, want_d = want
        if len(got_ids) != len(want_ids) or len(set(got_ids)) != len(got_ids):
            return False
        rows = [self.row_of.get(i) for i in got_ids]
        if any(r is None for r in rows):
            return False
        true_d = self.exact_dists(np.asarray(probe, dtype=np.float64), np.array(rows))
        if any(abs(a - b) > DIST_TOL for a, b in zip(true_d, want_d)):
            return False
        if got_dists is not None and any(
            abs(a - b) > DIST_TOL for a, b in zip(true_d, got_dists)
        ):
            return False
        return True


def expected_chunks(pages: list[str], split, normalize) -> int:
    """Chunk count the ingest must produce for these extracted pages."""
    return sum(len(split(normalize(p))) for p in pages)


def check_ingest(chunks_dir: str, status_dir: str, want_chunks: int,
                 want_files: set[str], happy_path: tuple[str, ...], dim: int) -> bool:
    """Chunk count, files covered, one happy-path status event per step per
    chunk, and the embedding dimension of every row."""
    chunks = pq.read_table(chunks_dir, columns=["id", "fileName", "embedding"])
    status = pq.read_table(status_dir, columns=["id", "status"])
    if chunks.num_rows != want_chunks:
        return False
    if set(chunks.column("fileName").to_pylist()) != want_files:
        return False
    lens = chunks.column("embedding").combine_chunks().value_lengths().to_numpy()
    if not (lens == dim).all():
        return False
    if status.num_rows != len(happy_path) * want_chunks:
        return False
    counts: dict[str, int] = {}
    for s in status.column("status").to_pylist():
        counts[s] = counts.get(s, 0) + 1
    return counts == {s: want_chunks for s in happy_path}


def canon(v) -> str:
    """Exact canonical string for one cell."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (np.integer, np.bool_, np.floating)):
        return canon(v.item())
    return str(v)


def canonical_rows(pdf) -> tuple[list[str], list[tuple]]:
    """Order-insensitive canonical form of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(canon(v) for v in r) for r in pdf[cols].itertuples(index=False)
    )
    return cols, rows


def curation_oracle(docs_pdf, sql: str) -> tuple[list[str], list[tuple]]:
    """Run the DuckDB restatement of the curation pipeline over the same
    documents and return its canonical rows."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("documents", docs_pdf)
        return canonical_rows(con.execute(sql).fetchdf())
    finally:
        con.close()
