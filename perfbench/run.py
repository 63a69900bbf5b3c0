"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload rag_query --seed 1 --seconds 10 --trace 0

Workloads: ``ingest``, ``rag_query`` and ``curation`` (see workloads.py and
the reasons recorded in BENCHMARK.json).  Works from any directory: the
package is found relative to this file and handed to the Spark Python
workers through ``PYTHONPATH``.  Everything a run writes goes under
``.perfbench/`` at the root of the checkout: the working
tables (removed at exit), ``runs.jsonl`` (one record per run: workload,
seed, cpus, git commit, source digest, load average, metrics) and, for
traced runs, the span file ``trace-<workload>-s<seed>-<pid>.json``.

A run starts a local Spark session (``local[$SPARK_GRAFT_CPUS]``, default
every available cpu), sets the workload up several times (``setup_s`` is
session start plus the median set-up), prepares the oracle, warms up, then
runs operations back to back, one client, until their summed latency
reaches ``--seconds``.  Every output is checked outside the timed region.
With ``--trace 1`` it then runs the workload's traced pass for per-layer
numbers.  The last stdout line is the result JSON; the line before it
carries the workload's named end-to-end figures and the run record.
Exits non-zero without a result when it cannot run at all.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark"
OUT = os.path.join(ROOT, ".perfbench")

END_TO_END = ("setup_s", "op_p50_ms", "throughput_per_s")
# Per-layer metrics every workload reports, next to its own layers.
COMMON_LAYERS = (
    "session.start_s", "setup.inputs_and_store_s", "trace.overhead_ms_per_op",
    "peak_rss_mb",
)
SETUP_REPEATS = 3
SPARK_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_environment(work: str) -> None:
    """Package on the path of this process and of every Spark Python
    worker; temporary and Spark local files inside the run's directory."""
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Without this every JVM, the launcher included, writes its perf
    # counters under /tmp/hsperfdata_<user>, outside the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def start_session(work: str):
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=cpus(),
        driver_memory=SPARK_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited
    (its Python workers end with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set of this process and of every live
    descendant (the Spark JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    total_kb = 0
    stack = list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    total_kb += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return total_kb / 1024.0


def provenance() -> dict:
    """What ran: git commit when the checkout is a repository, and a
    digest of the package sources either way."""
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {"git_commit": commit, "source_digest": h.hexdigest()[:16]}


def run_ops(w, first: int, count: int | None, seconds: float | None, tally: dict) -> list[float]:
    """Operations back to back until ``count`` are done or their summed
    latency reaches ``seconds``; returns the latencies and counts
    attempted, failed and items done into ``tally``."""
    lat: list[float] = []
    i = first
    while (count is not None and len(lat) < count) or (
        seconds is not None and sum(lat) < seconds
    ):
        t0 = time.perf_counter()
        try:
            items, out = w.op(i)
        except Exception as e:  # noqa: BLE001 - a failed operation is data
            items, out = 0, None
            log(f"op {i} raised {type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        ok = out is not None and w.check(i, out)
        if out is not None and not ok:
            log(f"op {i}: output differs from the oracle")
        tally["attempted"] += 1
        tally["failed"] += 0 if ok else 1
        if ok:
            tally["items"] += items
        lat.append(dt)
        i += 1
    return lat


def named_figures(name: str, lat: list[float], thr: float) -> dict:
    """The workload's end-to-end figures under their user-facing names,
    each with its unit.  A tail percentile is given only when at least ten
    requests lie beyond it."""
    from stats import percentile, tail_percentile

    ms = [x * 1e3 for x in lat]
    p = tail_percentile(len(ms))
    figures = {
        "ingest": {"ingest_pages_per_s": (thr, "1/s")},
        "rag_query": {
            "rag_p50_ms": (percentile(ms, 50), "ms"),
            "rag_tail_ms": (percentile(ms, p) if p is not None else None, "ms"),
            "rag_tail_percentile": (p, "%"),
        },
        "curation": {"curation_s": (percentile(lat, 50), "s")},
    }[name]
    return {k: {"value": v, "unit": u} for k, (v, u) in figures.items()}


def metric_names(trace: int) -> list[str]:
    """The metrics a run reports: end-to-end, or every per-layer one."""
    if not trace:
        return list(END_TO_END)
    import workloads as WL

    return list(COMMON_LAYERS) + [
        name for cls in WL.WORKLOADS.values() for name in cls.layer_metrics
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    work = os.path.join(OUT, f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    prepare_environment(work)
    try:
        import workloads as WL
    except ImportError as e:
        log(f"cannot import the package under {ROOT}: {e}")
        return 2
    from stats import failed_frac, median

    if args.workload not in WL.WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2
    want = metric_names(args.trace)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if sorted(want) != sorted(units):
        log(f"metrics {sorted(set(want) ^ set(units))} disagree with BENCHMARK.json")
        return 3

    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    load_start = os.getloadavg()
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    # Spark logs benign accumulator clean-up races at ERROR level; failed
    # operations surface as exceptions instead.
    spark.sparkContext.setLogLevel("FATAL")
    try:
        w = WL.WORKLOADS[args.workload](spark, args.seed, work)
        setup_times = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            w.setup(rep)
            setup_times.append(time.perf_counter() - t0)
        log(f"session {session_s:.2f} s, set-ups {[round(x, 2) for x in setup_times]} s")
        t0 = time.perf_counter()
        w.prepare_oracle()
        log(f"oracle prepared in {time.perf_counter() - t0:.2f} s")

        tally = {"attempted": 0, "failed": 0, "items": 0}
        warm = run_ops(w, 0, w.warmup_ops, None, tally)
        warm_items = tally["items"]
        log(f"warm-up {[round(x, 2) for x in warm]} s")
        t0 = time.perf_counter()
        lat = run_ops(w, w.warmup_ops, None, args.seconds, tally)
        log(f"{len(lat)} timed ops in {time.perf_counter() - t0:.2f} s wall")
        thr = (tally["items"] - warm_items) / sum(lat)
        if args.trace:
            metrics = traced_metrics(spark, w, args.seed, session_s, setup_times, lat)
        else:
            metrics = {
                "setup_s": session_s + median(setup_times),
                "op_p50_ms": median(lat) * 1e3,
                "throughput_per_s": thr,
            }
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    figures = named_figures(args.workload, lat, thr)
    figures["failed_frac"] = {
        "value": failed_frac(tally["failed"], tally["attempted"]), "unit": "ratio"}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus(), **provenance(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "latencies_ms": [round(x * 1e3, 1) for x in lat],
        "attempted": tally["attempted"], "failed": tally["failed"],
        "figures": figures, "metrics": metrics,
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"run": record}))
    print(json.dumps({
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in want},
    }))
    return 0


def traced_metrics(spark, w, seed: int, session_s: float, setup_times, lat) -> dict:
    """Per-layer metrics: the workload's traced pass plus run-wide figures.
    The tracing overhead is the traced operation's median time minus the
    untraced timed loop's median.  Layers that are not on this workload's
    path report 0."""
    from spans import SparkCounters, Tracer
    from stats import median

    tr = Tracer(SparkCounters(spark))
    layers = w.traced(tr, w.trace_ops)
    traced = median([tr.duration(s) for s in tr.named(w.op_span)])
    tr.dump(os.path.join(OUT, f"trace-{w.name}-s{seed}-{os.getpid()}.json"))
    out = dict.fromkeys(metric_names(1), 0)
    out.update(layers)
    out.update({
        "session.start_s": session_s,
        "setup.inputs_and_store_s": median(setup_times),
        "trace.overhead_ms_per_op": (traced - median(lat)) * 1e3,
        "peak_rss_mb": tree_peak_rss_mb(),
    })
    return out


if __name__ == "__main__":
    sys.exit(main())
