"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def log_observed_drops(observation, logger=None) -> dict:
    """Read an ``Observation``'s metrics after the consuming action and log
    every ``dropped_*`` counter (the no-silent-caps rule, made checkable:
    pipelines can assert on the returned dict instead of eyeballing the
    Spark UI — VERDICT r02 #8).  ``observation.get`` blocks until the
    observed plan has executed, so call this only after materializing."""
    import logging

    metrics = dict(observation.get)
    logger = logger or logging.getLogger("spark_graft.metrics")
    for key, val in metrics.items():
        if key.startswith("dropped"):
            logger.info("observed %s=%s", key, val)
    return metrics


def collect_bounded(
    df: DataFrame, cols: list[str], max_rows: int, what: str, hint: str
) -> list:
    """Collect a "small by contract" side with the contract ENFORCED.

    ``limit(max_rows + 1)`` bounds what can ever reach the driver — a
    mistakenly-large probe table raises a clear error instead of OOMing the
    driver after shipping it (VERDICT r02 #2).  ``hint`` names the
    scale-safe alternative for oversized inputs.
    """
    rows = df.select(*cols).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{what}: side to be collected exceeds max_rows={max_rows};"
            f" this operator collects it to the driver by design. {hint}"
        )
    return rows


def spread(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Ensure at least ``defaultParallelism * min_factor`` partitions.

    Fixture tables are single parquet files -> one input partition, which
    serializes every expensive per-row stage (shingling, UDFs) onto one
    core.  On a many-file dataset that already has enough partitions it
    is a no-op, and partitioning is never *reduced*.  The
    partition-count probe (``df.rdd.getNumPartitions()``) is an eager
    planner round-trip, paid on every call (VERDICT r01).
    """
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def pin_marker(spark, root: str, key: str, value, what: str, why: str) -> None:
    """Pin ``key=value`` to the state directory ``root`` so a later run
    with another value is refused instead of silently reusing state
    built for the old one.  The pin is an empty marker directory
    ``_<key>=<value>`` inside ``root`` (existence-only: readable on any
    Hadoop filesystem without open/read plumbing).

    No marker yet: write one — state written before the pin adopts the
    value of its next run.  The marker is written BEFORE any state, so a
    first run that dies early leaves a pinned marker over empty state;
    resuming with the same value works, and another value errors
    spuriously but LOUDLY (delete ``root`` to start over)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(root).getFileSystem(spark._jsc.hadoopConfiguration())
    want = f"_{key}={value}"
    existing = fs.globStatus(jpath(f"{root}/_{key}=*"))
    if existing is not None and len(existing) > 0:
        found = [st.getPath().getName() for st in existing]
        if want not in found:
            raise ValueError(
                f"{what}: {root} was created with {found[0]} but this"
                f" call asked for {key}={value}; {why}"
            )
        return
    fs.mkdirs(jpath(f"{root}/{want}"))
