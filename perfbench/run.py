#!/usr/bin/env python3
"""Benchmark command for the pandemic-analytics backend.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It builds nothing: the package is
imported from the checkout and zipped to the Spark Python workers.

Phases of one run:
1. set-up, once and cold, as a deployment starts: launch the JVM and
   a Spark session on ``local[nproc]``, ship the package, generate
   the seeded inputs, then the workload's preparation and warm-up
   (for the dashboard, the ETL refresh that builds its warehouse).
   ``setup_s`` is its wall time; the spread across runs is its noise;
2. measured units for ``--seconds`` (whole units: three dashboard
   rounds, the three with the least host CPU steal of up to five, or
   one curation pass, each longer than the benchmark's
   ``run_seconds``, so a run measures one unit), tracing off. With
   ``--trace 1``, untraced and traced units alternate, and the state
   the workload left behind is read at the end.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the
per-layer metrics traced). A traced run also writes its spans and
per-layer self times to ``.perfbench/trace-<workload>-<seed>.json``.
Every file a run writes lives under ``.perfbench/`` in the checkout;
its scratch directory is removed when the run ends.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure(run_dir: str) -> None:
    """Core count from nproc; every scratch path inside ``run_dir``.
    Must run before the package's session module is imported, which
    reads SPARK_GRAFT_CPUS at import time."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # HotSpot writes its perf-data file under /tmp whatever the temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp


def start_session():
    from mspr2_back_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def ship(spark, dest: str) -> None:
    """Zip the package to the Python workers, as a cluster deployment
    passes it with --py-files (``__spark_entry__._ensure_shipped``)."""
    os.makedirs(dest)
    zip_path = shutil.make_archive(
        os.path.join(dest, "mspr2_back_spark"),
        "zip",
        root_dir=ROOT,
        base_dir="mspr2_back_spark",
    )
    spark.sparkContext.addPyFile(zip_path)


def shutdown(spark, cpu) -> None:
    """Stop the session and the JVM, and wait for both and the JVM's
    Python workers to end."""
    from pyspark import SparkContext

    workers = cpu.descendants() if cpu is not None else []
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def percentile(values: list[float], pct: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def measure(wl, spark, tracers: list, seconds: float) -> list[dict]:
    """Run whole units, taking ``tracers`` in turn (the first tracer
    first), until ``seconds`` have passed and each tracer has had as
    many units as the others; one phase record per tracer."""
    phases = [
        {"latencies": [], "attempted": 0, "failed": 0, "cpu_s": 0.0, "units": 0}
        for _ in tracers
    ]
    op = 0
    start = time.perf_counter()
    while True:
        phase = phases[op % len(tracers)]
        r = wl.unit(spark, tracers[op % len(tracers)], op)
        op += 1
        phase["latencies"] += r.latencies
        phase["attempted"] += r.attempted
        phase["failed"] += r.failed
        phase["cpu_s"] += r.cpu_s
        phase["units"] += 1
        if op % len(tracers) == 0 and time.perf_counter() - start >= seconds:
            return phases


def state_counts(spark) -> dict[str, int]:
    """Persistent-RDD registry size, SQL cache entries and live Python
    DataFrames, read after a collection on both sides."""
    from pyspark.sql import DataFrame

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    return {
        "persisted": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "cache": spark._jsparkSession.sharedState().cacheManager().cachedData().size(),
        "frames": sum(isinstance(o, DataFrame) for o in gc.get_objects()),
    }


def run(args: argparse.Namespace, run_dir: str) -> dict:
    configure(run_dir)
    from pyspark import SparkContext

    from perfbench.metrics import END_TO_END, PER_LAYER, SPARK_FIELDS, unit_of
    from perfbench.trace import ProcessCpu, SparkCounters, Tracer, host_ticks, sum_counters
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, run_dir)
    spark = cpu = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        session_start_s = time.perf_counter() - t0
        cpu = ProcessCpu(SparkContext._gateway.proc.pid)
        wl.cpu = cpu
        tracers = [Tracer(enabled=False)]
        if args.trace:
            counters = SparkCounters(spark.sparkContext, cpu)
            tracer = Tracer(spark.sparkContext, on_span=counters.on_span)
            tracers.append(tracer)
        ship(spark, os.path.join(run_dir, "pkg"))
        wl.generate(os.path.join(run_dir, "input"))
        t1 = time.perf_counter()
        prep = wl.prepare(spark, tracers[-1])
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        wl.prepare_checks()
        state_before = state_counts(spark) if args.trace else None

        host_before = host_ticks()
        phases = measure(wl, spark, tracers, args.seconds)
        host_after = host_ticks()
        steal_frac = (host_after[0] - host_before[0]) / max(1, host_after[1] - host_before[1])
        rss_mb = cpu.peak_rss_mb()
        if args.trace:
            state_after = state_counts(spark)
    finally:
        if spark is not None:
            shutdown(spark, cpu)

    attempted = prep.attempted + sum(p["attempted"] for p in phases)
    failed = prep.failed + sum(p["failed"] for p in phases)
    plain = phases[0]
    lat = plain["latencies"]
    print(
        f"perfbench: {args.workload} seed={args.seed}: {len(lat)} ops in "
        f"{plain['units']} units, {attempted} checked, {failed} failed, "
        f"{steal_frac:.1%} of host CPU stolen while measuring",
        file=sys.stderr,
    )
    if not lat:
        raise RuntimeError("no operation completed")
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "op_p50_ms": 1000 * statistics.median(lat),
            "op_p90_ms": 1000 * percentile(lat, 90),
            "ops_per_s": len(lat) / sum(lat),
            "cpu_s_per_op": plain["cpu_s"] / len(lat),
        }
        names = END_TO_END
    else:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values["session.start_s"] = session_start_s
        values["session.warmup_s"] = warmup_s
        values.update(wl.layer_metrics(tracer))
        measured = [s for s in tracer.spans if s.op >= 0]
        totals = sum_counters(measured)
        traced = phases[1]
        n_ops = max(1, len(traced["latencies"]))
        for f in SPARK_FIELDS:
            values[f"spark.{f}"] = totals.get(f, 0.0) / n_ops
        values["memory.peak_rss_mb"] = rss_mb
        values["host.steal_frac"] = steal_frac
        values["state.persisted_rdds_delta"] = state_after["persisted"] - state_before["persisted"]
        values["state.cache_entries_after"] = state_after["cache"]
        values["state.python_dataframes"] = state_after["frames"]
        if traced["latencies"]:
            values["trace.overhead_ms"] = 1000 * (
                statistics.median(traced["latencies"]) - statistics.median(lat)
            )
        values["trace.spans"] = len(tracer.spans)
        values["failed_frac"] = failed / max(1, attempted)
        names = PER_LAYER
        write_trace(args, tracer, values, plain, traced)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": unit_of(n)} for n in names},
    }


def write_trace(args, tracer, values, plain, traced) -> None:
    """Spans, per-layer self time and the per-layer table, as JSON."""
    from perfbench.trace import self_times

    own = self_times(tracer.spans)
    by_layer: dict[str, float] = {}
    for s in tracer.spans:
        layer = s.name.split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + own[s.id]
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "untraced_ops": len(plain["latencies"]),
        "traced_ops": len(traced["latencies"]),
        "untraced_op_median_s": statistics.median(plain["latencies"]),
        "traced_op_median_s": statistics.median(traced["latencies"])
        if traced["latencies"]
        else None,
        "self_time_s_by_layer": by_layer,
        "per_layer": values,
        "spans": [
            {
                "id": s.id,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": own[s.id],
                "counters": s.counters,
            }
            for s in tracer.spans
        ],
    }
    path = os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"perfbench: trace written to {path}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    # import this directory's modules as ``perfbench.*`` only, so that
    # ``trace`` and ``metrics`` never shadow a top-level module
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    args = parse_args(argv)
    try:
        import mspr2_back_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=OUT_DIR)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
