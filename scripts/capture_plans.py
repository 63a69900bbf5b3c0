"""Capture `.explain("formatted")` snapshots of query plans, e.g. the
before and after of an optimization.

Usage: python scripts/capture_plans.py <out_dir> <before|after> [name ...]

Writes plans/<out_dir>/<name>_<suffix>.txt for each requested query name.
Names resolve against queries.QUERIES first (the individual operator
registry the bench times), then the bench pipeline suite, then the driver
registry (suite entries).  Default list = every bench headline + pipeline
suite member.  Construction-time side effects (tercile folds, k-means
fits, stream drains) run as part of building the DataFrame — the snapshot
is of the FINAL returned plan, the same object the bench's noop sink
executes.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    get_spark,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    queries as Q,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.plans import (  # noqa: E402
    explain as E,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
USAGE = "usage: capture_plans.py <out_dir> <before|after> [name ...]"


def parse_args(argv: list[str]) -> tuple[str, str, list[str]]:
    """``(out_dir, suffix, names)``; exits with the usage line on a
    missing or malformed argument, before Spark starts."""
    if len(argv) < 2 or argv[0] in ("-h", "--help") or argv[1] not in (
        "before", "after"
    ):
        sys.exit(USAGE)
    return argv[0], argv[1], argv[2:]


def default_names() -> list[str]:
    return list(bench.HEADLINE) + list(bench._pipeline_queries().keys())


def main() -> None:
    out_dir, suffix, names = parse_args(sys.argv[1:])
    out = os.path.join(REPO, "plans", out_dir)
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name=f"plans-{out_dir}-{suffix}")
    pipeline = bench._pipeline_queries()
    for name in names or default_names():
        fn = Q.QUERIES.get(name) or pipeline.get(name)
        if fn is None:
            import __spark_entry__ as entrymod

            fn = entrymod.queries().get(name)
        if fn is None:
            print(f"SKIP {name}: not found", file=sys.stderr)
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = E.plan_string(df, "formatted")
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {exc}"
        path = os.path.join(out, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        Q.clear_ingest_cache()


if __name__ == "__main__":
    main()
