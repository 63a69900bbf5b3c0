"""Per-query Spark job budget: the number of jobs a query runs while its
DataFrame is being built, and while it is collected.

At fixture scale the engine is bound by per-job overhead, so a change
that adds a job to a composed run is a regression even when the output
and the plan shape stay the same.  Jobs are counted per job group through
the status tracker (the ``run_tagged`` fixture; no extra Spark job).

Some build counts have a small run-to-run jitter: building runs the lazy
``localCheckpoint`` boundaries' shuffle stages, and AQE re-plans the
pair subtree under the components edge checkpoint from the stages that
finish first, so some runs submit up to ``BUILD_JITTER`` more jobs.
Measured at sf0.001: ``curate_corpus_v2`` 41-43 at build without the
strip and 43-44 with it (25 runs per form), ``curate_corpus`` 11-12
(12 runs).  ``curation_v2_survivors`` read 38 on all 12 runs and is
pinned exactly, as is every execution count.  A budget moves only with
a reviewed change of the query's jobs; lower it when a change removes
some.
"""

from __future__ import annotations

from functools import partial

import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    dedup as D,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.streaming import (
    curation as SC,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.tables import (
    load_table,
)

BUILD_JITTER = 2


def _v2_view(spark, docs, tmp):
    """``curation_v2_survivors`` over a store drained from the corpus."""
    store = str(tmp / "store")
    SC.curation_v2_maintain_batch(
        docs.select("doc_id", "lang", "text"), store, min_stops=0
    )
    return partial(SC.curation_v2_survivors, spark, store)


# name -> (prepare(spark, docs, scratch dir) -> the build call,
#          jobs at build, build jitter allowed, jobs to collect)
BUDGETS = {
    "curate_corpus_v2": (
        lambda spark, docs, tmp: partial(D.curate_corpus_v2, docs, min_stops=0),
        41, BUILD_JITTER, 14,
    ),
    "curate_corpus_v2_strip": (
        lambda spark, docs, tmp: partial(
            D.curate_corpus_v2, docs, min_stops=0, strip_spans=True
        ),
        43, BUILD_JITTER, 14,
    ),
    "curate_corpus": (
        lambda spark, docs, tmp: partial(D.curate_corpus, docs),
        11, BUILD_JITTER, 4,
    ),
    "curation_v2_survivors": (_v2_view, 38, 0, 14),
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_job_budget(spark, sf_dir, tmp_path, run_tagged, name):
    prepare, want_build, jitter, want_run = BUDGETS[name]
    build = prepare(spark, load_table(spark, sf_dir, "documents"), tmp_path)
    df, jobs_build, _ = run_tagged(build)
    rows, jobs_run, _ = run_tagged(df.collect)
    assert rows
    assert want_build <= jobs_build <= want_build + jitter, jobs_build
    assert jobs_run == want_run
