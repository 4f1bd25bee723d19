"""Crawl-and-analytics benchmark.

    python3 perfbench/run.py --workload <wide_round|analytics>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process drives one Spark session at
``local[nproc]`` in a closed loop, one program call at a time. Inputs come
from ``--seed`` only: the crawl derives ``WebConfig.seed`` from it, the
analytics workload generates its tables from it. Every output is checked
against the repository's oracles outside the timed calls (the crawl against
``simulate_crawl``, images with ``validate_images``, queries against DuckDB
running ``oracle_sql()``); a failed call or a mismatch counts in ``failed``.
Each workload first warms up (one cold crawl cycle, one cold query pass);
the timed unit calls then repeat until ``--seconds`` have passed (at least
one crawl cycle, at least two query passes).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it (``# {...}``) records the
environment, the wall of each phase and of every timed call. End-to-end
metrics (``--trace 0``), the same names on every workload:

- ``setup_s``: median of three session starts (``get_spark`` plus a warm-up
  that runs a JVM job, Python workers and a parquet round trip); the first
  start launches the JVM, the other two restart the context in it.
- ``op_s.p50``: median wall of the repeated unit call. Crawl: one warm
  ``run_round``; analytics: one query, warm, through the ``noop`` sink (per
  query, the median over passes; then the median over queries).
- ``throughput``: crawl: URLs fetched per second of the median round wall
  (the repository's baseline metric); analytics: queries per second of warm
  wall.
- ``peak_rss_mb``: peak memory (proportional set size) of the process tree
  (this process, the JVM and the Python workers) while the workload runs,
  from /proc.

``--trace 1`` runs the workload with spans around the program's public calls
and Spark's event log on, then one more unit call untraced in the same
session (the tracing overhead), single-layer timings, and the unit call at
``local[1]`` (the scaling efficiency); it prints the per-layer metrics of
``layers.PER_LAYER``, among them ``ingest_s``: getting the workload's input
into the program. Crawl: ``init_crawl``, from the seed list to a committed
frontier, warm (after one cold cycle), median over the timed cycles.
Analytics: a full scan of every input table through the operators'
``load``, median of three. Span logs are written to ``.perfbench_out/``.

Every process the run starts (the JVM, the Python workers) is stopped and
waited for before it exits, also on an error or SIGTERM.

Memory and environment: every ``SPARK_GRAFT_*`` variable is cleared, then
``SPARK_GRAFT_PREALLOC=1`` and ``SPARK_GRAFT_DRIVER_MEM=2g`` are set, so the
pre-touched driver heap, the workdirs and four Python workers fit in a
15 GB host. All temporary files (workdirs, Spark local dirs, JVM and Python
temp dirs, event logs) live under ``.perfbench_tmp/`` in the checkout and are
deleted when the run ends; the crawl oracle is cached in ``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_SETUPS = 3
DRIVER_MEM = "2g"
END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_s.p50": "s",
    "throughput": "1/s",
    "peak_rss_mb": "MB",
}


def prepare_env(tmp: str) -> None:
    """Both commits run with the program's defaults: clear every program
    variable, then size the heap for this host. Everything the JVM, Spark
    and Python write goes under ``tmp``."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_PREALLOC"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for sub in ("local", "java", "py"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData"
    )
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    return kind


def start_session(cores: int, tmp: str, event_log: bool):
    from mongodb_postproc_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(tmp, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(tmp, "eventlog")
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def warm_up(spark, tmp: str) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()
    path = os.path.join(tmp, "warmup.parquet")
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4096, 1, n).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).parquet(path)
    spark.read.parquet(path).count()


def set_up(cores: int, tmp: str, event_log: bool, n: int):
    """``n`` session starts; returns the last session and a
    ``workloads.Clock`` per start."""
    from workloads import Clock

    spark, clocks = None, []
    for _ in range(n):
        if spark is not None:
            spark.stop()
        with Clock() as clock:
            spark = start_session(cores, tmp, event_log)
            warm_up(spark, tmp)
        clocks.append(clock)
    return spark, clocks


def _wait_gone(procs: set[tuple[int, str]], timeout_s: float) -> set[tuple[int, str]]:
    """Wait until none of ``procs`` (pid, start time) runs; returns those
    still running at the timeout."""
    from tracing import proc_table

    deadline = time.monotonic() + timeout_s
    while True:
        table = proc_table()
        left = {(pid, st) for pid, st in procs if pid in table and table[pid][1] == st}
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)


def stop_processes() -> None:
    """Stop the Spark context, then the JVM and every process under it (the
    Python workers), and wait until each has ended. Spark only stops the
    context; the JVM would otherwise outlive this process for a while."""
    from pyspark import SparkContext
    from tracing import descendants, proc_table

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            traceback.print_exc()
    table = proc_table()
    procs = {(pid, table[pid][1]) for pid in descendants(os.getpid(), table)}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        SparkContext._gateway = None
        SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass  # the JVM is stopped below either way
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = _wait_gone(procs, 30)
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    left = _wait_gone(left, 10)
    if left:
        print(f"perfbench: processes still running: {sorted(p for p, _ in left)}",
              file=sys.stderr)


def run_workload(name: str, spark, seed: int, seconds: float, tmp: str, tracer):
    import workloads

    if name == "analytics":
        return workloads.run_analytics(spark, seed, seconds, os.path.join(tmp, "tables"), tracer)
    return workloads.run_wide(spark, seed, seconds, os.path.join(tmp, "crawl"), tracer,
                              os.path.join(ROOT, ".perfbench_cache"), ROOT)


def end_to_end(res, setup_s: list[float], peak_mb: float) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setup_s),
        "op_s.p50": statistics.median(res.op_s),
        "throughput": res.items / res.items_s,
        "peak_rss_mb": peak_mb,
    }


def scaling_efficiency(res, cores: int, tmp: str) -> float:
    """The unit call at local[1] against local[cores] on the same input:
    throughput_N / (N * throughput_1). At local[1] the unit call (a round
    from the committed init state, or a pass over the queries) runs once, in
    the JVM the workload warmed; both carry ``res.items`` work items."""
    import workloads
    from tracing import Tracer

    spark, _ = set_up(1, tmp, event_log=False, n=1)
    try:
        one_s = workloads.repeat_op(spark, res, Tracer(False))
    finally:
        spark.stop()
    return one_s / (cores * res.items_s)


def traced_run(name: str, seed: int, seconds: float, cores: int, tmp: str):
    """The workload with spans and Spark's event log on, then one untraced
    unit call in the same session (the tracing overhead), the single-layer
    timings, and the local[1] scaling run. Returns (per-layer metrics,
    the traced Result)."""
    import layers
    import tracing
    import workloads

    tracer = tracing.Tracer(True)
    with tracer.span("session.set_up"):
        spark, _ = set_up(cores, tmp, event_log=True, n=1)
    try:
        res = run_workload(name, spark, seed, seconds, tmp, tracer)
        traced_s = res.items_s if name == "analytics" else statistics.median(res.op_s)
        with tracer.span("trace.untraced_op"):
            untraced_s = workloads.repeat_op(spark, res, tracing.Tracer(False))
        micro = {}
        if res.engine is not None:  # the crawl layers, on the crawl workload only
            with tracer.span("layers.micro"):
                micro = layers.micro_metrics(spark, workloads.wide_cfg(seed), res.engine)
    finally:
        spark.stop()
    tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{name}-{seed}.json"))
    ops = [s for s in tracer.spans if layers.is_op(s)]
    events = tracing.read_event_logs(os.path.join(tmp, "eventlog"))
    out = {metric: 0.0 for metric in layers.PER_LAYER}
    out.update(res.layers)
    out.update(micro)
    out.update(layers.span_metrics(tracer.spans))
    out.update(tracing.spark_layer_metrics(events, tracer.spans, ops))
    if res.engine is not None:
        out.update(layers.workdir_metrics(res.workdir, res.fetched[-1]))
    out["ingest_s"] = res.ingest_s
    out["trace.overhead_frac"] = traced_s / untraced_s - 1.0
    out["scaling.eff_1_to_N"] = scaling_efficiency(res, cores, tmp)
    return out, res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["wide_round", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a termination request unwinds through the ``finally`` below, which
    # stops every process this run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "mongodb_postproc_spark")):
        print(f"perfbench: no program package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    try:
        prepare_env(tmp)
        # import (and byte-compile) the program before any timing, so a fresh
        # checkout's first run does not bill that to set-up
        import __spark_entry__  # noqa: F401
        import layers
        import tracing
        import mongodb_postproc_spark.crawl.engine  # noqa: F401

        cores = os.cpu_count() or 1
        info = {"workload": args.workload, "seed": args.seed, "cores": cores,
                "driver_mem": DRIVER_MEM, "prealloc": 1, "tmp_fs": fs_type(tmp)}
        if args.trace:
            metrics, res = traced_run(args.workload, args.seed, args.seconds, cores, tmp)
            units = layers.PER_LAYER
        else:
            spark, setups = set_up(cores, tmp, event_log=False, n=N_SETUPS)
            with tracing.RssSampler() as rss:
                res = run_workload(args.workload, spark, args.seed, args.seconds, tmp,
                                   tracing.Tracer(False))
            metrics = end_to_end(res, [c.s for c in setups], rss.peak_mb)
            units = END_TO_END
            res.samples["setup"] = [round(c.s, 4) for c in setups]
            info.update(phases=res.phases, samples=res.samples)
        if res.engine is not None:  # the backend under any tracing proxy
            info["catalog"] = type(getattr(res.engine.catalog, "_inner",
                                           res.engine.catalog)).__name__
        for p in res.problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        print("# " + json.dumps(info))
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            stop_processes()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
