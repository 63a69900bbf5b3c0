"""Per-member wall-clock profile of the streaming_dedup_gallery entry —
the driver's slowest declared entry (~130-300 s at sf0.01, VERDICT r12
next-round #2).  Times each member's full build+noop at the given SF dir
(default sf0.01), optionally repeated, printing per-member seconds and
loadavg so store-layer optimizations have a before/after of record.

Usage: python scripts/r13_gallery_probe.py [sf_dir] [reps>=1] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    get_spark,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    queries as Q,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.driver_registry import (  # noqa: E402
    ROWS_ONLY_SUITES,
)

MEMBERS = ROWS_ONLY_SUITES["streaming_dedup_gallery"]
USAGE = "usage: r13_gallery_probe.py [sf_dir] [reps>=1] [name ...]"


def check_args(reps: int, names: list[str]) -> None:
    """Exit with the usage line on a repetition count below 1 or an
    unknown query name, before Spark starts."""
    if reps < 1:
        sys.exit(f"{USAGE}\nreps must be >= 1, got {reps}")
    unknown = [n for n in names if n not in Q.QUERIES]
    if unknown:
        sys.exit(f"{USAGE}\nunknown query names: {', '.join(unknown)}")


def main() -> None:
    if sys.argv[1:2] in (["-h"], ["--help"]):
        sys.exit(USAGE)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    names = sys.argv[3:] or MEMBERS
    check_args(reps, names)
    spark = get_spark(app_name="r13-gallery-probe")
    spark.range(1000).selectExpr("sum(id)").collect()
    results: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(reps):
        for name in names:
            Q.clear_ingest_cache()
            spark.sparkContext.setJobDescription(f"gallery:{name}")
            t0 = time.time()
            df = Q.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 2)
            results[name].append(dt)
            print(
                f"{name}: {dt:.2f}s (rep {rep}, loadavg"
                f" {os.getloadavg()[0]:.1f})",
                flush=True,
            )
    total = sum(min(v) for v in results.values())
    print("--- min-of-reps ---")
    for name, v in results.items():
        print(f"{name}: {min(v):.2f}s")
    print(f"TOTAL (min): {total:.2f}s")


if __name__ == "__main__":
    main()
