"""SparkSession factory tuned for this engine.

Local mode (``local[N]``) is a single JVM; ``spark.driver.memory`` is the
only memory knob.  The settings below are also the ones we would ship as
cluster defaults: AQE on (runtime coalescing + skew-join handling), shuffle
partitions sized to cores instead of the 200 default, Arrow enabled for
pandas-UDF interchange, UTC session timezone so results are comparable with
a UTC-naive oracle (DuckDB).

Python tasks run ``worker/pyspark_graft_worker.py`` instead of
``pyspark.worker``.  On Python 3.11, PySpark's per-task
``importlib.invalidate_caches()`` made every zip importer re-read all of
``pyspark.zip``'s directory, 180–210 ms per task on a 4-core host, which
was most of a 5-row pandas UDF job (~250 ms against ~50 ms for a plain
job).  The engine's worker module re-reads an archive only when it
changed.  Its directory and the one holding this package are prepended
to the executors' ``PYTHONPATH``, so both import whatever the driver's
working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
WORKER_DIR = os.path.join(PACKAGE_DIR, "worker")


def get_spark(
    app_name: str = "pgvector-pdf-rag-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or 32 — mirrors the driver's
    bench environment.  On a real cluster these become executor settings;
    nothing in the engine assumes local mode.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(cpus)
    extra_conf = dict(extra_conf or {})
    paths = [
        WORKER_DIR,
        os.path.dirname(PACKAGE_DIR),
        extra_conf.pop("spark.executorEnv.PYTHONPATH", ""),
    ]
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(filter(None, paths)))
        # r12 (guide §4.4 — stop the optimizer duplicating expensive
        # expressions): InferFiltersFromGenerate turns every
        # explode(expensive_expr) into a SECOND full evaluation of that
        # expression inside a Filter (`size(expr) > 0 AND isnotnull`),
        # which predicate pushdown then sinks below the nearest exchange
        # onto the scan — and Filter-context evaluation of lambda-bearing
        # HOFs is interpreted WITHOUT subexpression elimination, so e.g.
        # the word_shingles chain re-runs split+filter per array element
        # (O(tokens^2) per doc).  Measured at sf0.1:
        # explode(word_shingles) 2.97 s -> 0.37 s, jaccard_similar_pairs
        # 3.8 s -> 1.0 s.  The inferred filter's only benefit is pruning
        # zero-output rows before an exchange that precedes the Generate;
        # non-outer explode drops those rows anyway, so for this engine's
        # HOF-heavy generators (shingles, token explodes, band keys) the
        # rule is a strict loss at every scale.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
