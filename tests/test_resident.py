"""The resident vector block behind ``pipeline.search`` (bit-identical to
the native scan, rebuilt when the table changes, no Spark job per
question) and the engine's Python worker module."""

import os
import subprocess
import sys
import textwrap
import uuid

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
    pipeline as P,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (
    session,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.functions import (
    embed as E,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    blockscan as BS,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    knn as K,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    resident as R,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLS = ("id", "origntext", "fileName", "pageNumber")
SCHEMA = (
    "id string, embedding array<float>, origntext string, fileName string,"
    " pageNumber int"
)
DIM = 16


def _table(kinds, seed):
    """Chunk rows of the given kinds: ``grid`` vectors have small integer
    elements, so distinct vectors often tie exactly; ``dup`` copies an
    earlier vector; ``normal`` vectors are continuous (BLAS and the
    sequential sum differ in the last bits); NULL and ``short``
    (wrong-dimension) rows have no distance.  Ids are a shuffled range,
    so the id tie-break is not the row order."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(len(kinds))
    rows, seen = [], []
    for i, kind in enumerate(kinds):
        if kind == "dup" and seen:
            v = seen[int(rng.integers(len(seen)))]
        elif kind == "null":
            v = None
        elif kind == "short":
            v = rng.integers(-2, 3, DIM - 1).astype(float).tolist()
        elif kind == "normal":
            v = rng.normal(size=DIM).astype(np.float32).tolist()
        else:
            v = rng.integers(-2, 3, DIM).astype(float).tolist()
        if v is not None and len(v) == DIM:
            seen.append(v)
        rows.append((f"c{ids[i]:03d}", v, f"text {i}", f"f{i % 3}.pdf", i))
    return rows


def _write(spark, rows, path, mode="overwrite"):
    spark.createDataFrame(rows, SCHEMA).write.mode(mode).parquet(str(path))
    return spark.read.parquet(str(path))


def _native(items, probe, k):
    return K.knn(items, probe, k=k, tie_cols=("id",)).select(*COLS, "dist")


@given(
    kinds=st.lists(
        st.sampled_from(["grid", "grid", "normal", "normal", "dup", "null", "short"]),
        min_size=0,
        max_size=40,
    ),
    seed=st.integers(0, 2**32 - 1),
    ks=st.lists(st.integers(1, 12), min_size=1, max_size=4),
)
@example(kinds=["grid"] * 3 + ["null", "short"], seed=0, ks=[10])
@example(kinds=["normal"] * 30, seed=1, ks=[1, 3, 5])
@settings(max_examples=12, deadline=None)
def test_resident_search_matches_native_knn(spark, tmp_path_factory, kinds, seed, ks):
    """Forced-arm equality: the resident block returns the native top-k
    rows in the native order with bit-identical distances — exact ties
    to the lower id, NULL and wrong-dimension rows skipped, and k larger
    than the table returning every row that has a distance."""
    items = _write(spark, _table(kinds, seed), tmp_path_factory.mktemp("t"))
    rng = np.random.default_rng(seed + 1)
    for k in ks:
        probe = rng.integers(-2, 3, DIM).astype(float).tolist()
        if k % 2:
            probe = rng.normal(size=DIM).tolist()
        hits = R.search(items, probe, k, COLS)
        assert hits is not None
        native = _native(items, probe, k)
        assert hits.schema == native.schema
        assert hits.collect() == native.collect()


def test_resident_block_sees_appended_and_overwritten_rows(spark, tmp_path):
    """The block is keyed by the scan's files with their sizes and
    modification times: after an append or an overwrite, a re-read table
    is searched afresh, never from the old block."""
    path = tmp_path / "chunks"
    items = _write(spark, _table(["normal"] * 20, 1), path)
    probe = [9.0] * DIM
    before = R.search(items, probe, 3, COLS).collect()
    assert before == _native(items, probe, 3).collect()

    near = [("new", probe, "appended", "g.pdf", 0)]
    items = _write(spark, near, path, mode="append")
    got = R.search(items, probe, 3, COLS).collect()
    assert got[0]["id"] == "new" and got[0]["dist"] == 0.0
    assert got == _native(items, probe, 3).collect()

    items = _write(spark, _table(["grid"] * 5, 2), path)
    got = R.search(items, probe, 3, COLS).collect()
    assert "new" not in {r["id"] for r in got}
    assert got == _native(items, probe, 3).collect()


def test_resident_block_only_for_small_plain_scans(spark, tmp_path, monkeypatch):
    """Cached, filtered and above-bound inputs have no resident block;
    ``pipeline.search`` then takes the native scan with the same rows."""
    items = _write(spark, _table(["normal"] * 30, 3), tmp_path / "t")
    probe = E.hash_embed_py("question", DIM)
    assert R.search(items.filter(F.col("pageNumber") > 3), probe, 5, COLS) is None
    cached = spark.read.parquet(str(tmp_path / "t")).cache()
    try:
        assert R.search(cached, probe, 5, COLS) is None
    finally:
        cached.unpersist()
    monkeypatch.setattr(BS, "TILE", 30 * DIM - 1)
    fresh = spark.read.parquet(str(tmp_path / "t"))
    assert R.search(fresh, probe, 5, COLS) is None
    got = P.search(fresh, "question", k=5, dim=DIM).collect()
    assert got == _native(fresh, probe, 5).collect()


def _run_tagged(spark, fn):
    """``fn()`` and the ``(jobs, tasks)`` it ran, read from the status
    store through a job group."""
    sc, group = spark.sparkContext, f"resident-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)
    return out, (len(jobs), tasks)


def test_resident_request_runs_no_search_job_and_one_python_task(spark, tmp_path):
    """A warm request on a resident table: ``search`` runs no Spark job,
    and ``summaries`` over its hits runs one job of one (Python) task —
    the hits are one partition, not one slice per core."""
    items = _write(spark, _table(["normal"] * 50, 4), tmp_path / "t")
    P.search(items, "warm-up", dim=DIM).collect()  # builds the block

    hits, work = _run_tagged(spark, lambda: P.search(items, "new", dim=DIM))
    assert work == (0, 0)
    summ = P.summaries(hits, "new")
    rows, work = _run_tagged(spark, summ.collect)
    assert len(rows) == 5 and all(r["summary"] for r in rows)
    assert work == (1, 1)
    assert len(P.sse_events(summ).collect()) == 15


def test_worker_module_runs_from_another_cwd(tmp_path):
    """A session built by ``get_spark`` from a working directory outside
    the repo, with the package on the driver's ``sys.path`` only, runs
    its pandas UDFs in the engine's worker module."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        from pyspark.sql import functions as F
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import get_spark

        spark = get_spark(cpus=1, driver_memory="1g")

        @F.pandas_udf("string")
        def patched_by(s):
            import zipimport
            import pandas as pd
            return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(s))

        rows = spark.range(3).select(patched_by(F.col("id").cast("string"))).collect()
        print("MODULES", sorted({r[0] for r in rows}))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script, REPO], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "MODULES ['pyspark_graft_worker']" in out.stdout, out.stderr[-2000:]


def test_worker_module_rereads_a_rewritten_zip(tmp_path):
    """Unchanged archives are not re-read on ``invalidate_caches``; an
    archive rewritten in place (new size or mtime) is."""
    script = textwrap.dedent(
        """
        import importlib, os, sys, zipfile, zipimport
        archive = sys.argv[1]
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("first.py", "X = 1\\n")
        sys.path.insert(0, archive)
        import first
        import pyspark_graft_worker

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        unchanged = len(reads)
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("first.py", "X = 1\\n")
            z.writestr("second.py", "Y = 2\\n")
        importlib.invalidate_caches()
        import second
        print("READS", unchanged, len(reads), second.Y)
        """
    )
    if sys.version_info >= (3, 12):
        pytest.skip("the archive re-read on invalidate_caches is Python 3.11's")
    env = dict(os.environ, PYTHONPATH=session.WORKER_DIR)
    out = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "mods.zip")],
        capture_output=True, text=True, timeout=120, env=env,
    )
    assert "READS 0 1 2" in out.stdout, out.stderr[-2000:]
