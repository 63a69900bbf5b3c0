"""Per-query Spark job budget: the number of jobs a query runs while its
DataFrame is being built, and while it is collected.

At fixture scale the engine is bound by per-job overhead, so a change
that adds a job to a composed run is a regression even when the output
and the plan shape stay the same.  Jobs are counted per job group through
the status tracker (no extra Spark job), after the listener bus has
drained: the tracker is fed asynchronously and can lag the last job.

The build count has a small run-to-run jitter: building runs the lazy
``localCheckpoint`` boundaries' shuffle stages, and AQE re-plans the
pair subtree under the components edge checkpoint from the stages that
finish first, so some runs submit up to ``BUILD_JITTER`` more jobs
(sf0.001, 25 runs per form: 41-43 at build without the strip, 43-44
with it).  The execution count read the same on every run and is
pinned exactly.  A budget moves only with a reviewed change of the
query's jobs; lower it when a change removes some.
"""

from __future__ import annotations

import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    dedup as D,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
    load_table,
)

BUILD_JITTER = 2

# name -> (kwargs for curate_corpus_v2, jobs at build, jobs to collect)
BUDGETS = {
    "curate_corpus_v2": (dict(min_stops=0), 41, 14),
    "curate_corpus_v2_strip": (dict(min_stops=0, strip_spans=True), 43, 14),
}


def _count_jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_curate_corpus_v2_job_budget(spark, sf_dir, name):
    kwargs, want_build, want_run = BUDGETS[name]
    docs = load_table(spark, sf_dir, "documents")
    df, build = _count_jobs(
        spark, f"budget-build-{name}", lambda: D.curate_corpus_v2(docs, **kwargs)
    )
    rows, run = _count_jobs(spark, f"budget-run-{name}", df.collect)
    assert rows
    assert want_build <= build <= want_build + BUILD_JITTER, build
    assert run == want_run
