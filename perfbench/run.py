#!/usr/bin/env python3
"""Benchmark of urban_pointcloud_processing_spark: one workload per call.

    python3 perfbench/run.py --workload fusion_scan --seed 1 --seconds 10 --trace 0

One client, closed loop: this process is the only driver, with a
``local[nproc]`` session of its own. After set-up and warm-up it runs
the workload again and again until ``--seconds`` have passed (at least
once), checks every run's output against the DuckDB oracle, and prints
as its last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones of BENCHMARK.json; with ``--trace 1`` the run is traced
and the metrics are the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "4g"
# Warm runs after the first, cold one. The second run of a session is
# still 20-50% slower than later ones while the JIT compiles, the third
# up to 10%. A count, not a time: warming for a fixed time gave a slow
# host fewer warm runs and so slower measured runs.
WARM_RUNS = 2
# a measured run that launches less than this share of the first run's
# Spark jobs or tasks has reused earlier results instead of working
JOB_FLOOR = 0.5


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_env(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside ``work``, fix the
    JVM's heap size, and with tracing turn the Spark event log on at
    launch."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The heap starts at its maximum: a heap that grows does so at
    # run-dependent moments, and resident memory then differs by up to a
    # fifth between calls of the same workload.
    args = ["--driver-java-options", f"-Xms{DRIVER_MEMORY}",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{log}",
                 # no zstandard module here to read a compressed log
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark, host) -> None:
    """Stop the session, the JVM it launched and the JVM's Python
    workers, and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = host.tree_pids()[1:]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = host.wait_gone(started, 30)
    for pid in left:
        os.kill(pid, signal.SIGKILL)
    host.wait_gone(left, 10)


def run_once(sc, group: str, host, rss, fn) -> dict:
    """One run of ``fn`` under its own job group, with wall and CPU time,
    peak resident memory and the Spark work it launched."""
    from spans import job_counts

    sc.setJobGroup(group, group)
    load_pre = host.loadavg()
    rss.reset()
    cpu0, steal0, gc0 = host.tree_cpu_s(), host.steal_s(), jvm_gc_s(sc)
    t0 = time.perf_counter()
    try:
        output, error = fn(), None
    except Exception:  # a failed run is counted, the loop goes on
        output, error = None, traceback.format_exc()
        print(error, file=sys.stderr)
    wall = time.perf_counter() - t0
    cpu = host.tree_cpu_s() - cpu0
    steal, gc = host.steal_s() - steal0, jvm_gc_s(sc) - gc0
    peak_rss = rss.peak()
    jobs, tasks = job_counts(sc, group)
    return {"group": group, "wall_s": wall, "cpu_s": cpu,
            "peak_rss_mb": peak_rss / 2**20,
            "jobs": jobs, "tasks": tasks, "gc_s": gc, "steal_s": steal,
            "output": output, "error": error,
            "loadavg_pre": load_pre, "loadavg_post": host.loadavg()}


def jvm_gc_s(sc) -> float:
    """Seconds the Spark JVM has spent in garbage collection."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def timed_loop(sc, host, rss, seconds: float, tag: str, fn, traced_fn=None) -> list[dict]:
    """Runs of ``fn`` until ``seconds`` have passed, at least one; with
    ``traced_fn``, each run of ``fn`` is followed by one of ``traced_fn``."""
    runs = []
    deadline = time.perf_counter() + seconds
    while not runs or time.perf_counter() < deadline:
        i = len(runs)
        runs.append(run_once(sc, f"{tag}{i}", host, rss, fn))
        if traced_fn is not None:
            runs.append(run_once(sc, f"traced{i}", host, rss, traced_fn))
    return runs


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import urban_pointcloud_processing_spark  # noqa: F401 — the program
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (ImportError, OSError) as e:
        print(f"perfbench: the program or BENCHMARK.json is missing: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    try:
        return measure(args, spec, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spec: dict, work: str, t_start: float) -> int:
    spark_env(work, bool(args.trace))

    import host
    import pyarrow
    import pyspark
    import workloads
    from spans import Tracer
    from urban_pointcloud_processing_spark.session import get_spark

    nproc = host.nproc()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "nproc": nproc,
              "master": f"local[{nproc}]", "driver_memory": DRIVER_MEMORY,
              "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
              "loadavg_start": host.loadavg()}
    out: dict = {}
    with host.RssSampler() as rss:
        spark = get_spark(master=f"local[{nproc}]", driver_memory=DRIVER_MEMORY,
                          app_name=f"perfbench-{args.workload}")
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tr = Tracer(sc)
        try:
            wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
            t = time.perf_counter()
            wl.setup()
            record["input_s"] = time.perf_counter() - t
            warm = [run_once(sc, f"warmup{k}", host, rss, wl.warmup)
                    for k in range(1 + WARM_RUNS)]
            if any(r["error"] for r in warm):
                raise RuntimeError("warm-up failed")
            setup_s = time.perf_counter() - t_start
            if args.trace:
                # untraced and traced runs alternate, for the tracing overhead
                def traced_iteration():
                    with tr.span("iteration"):
                        return wl.traced_iteration(tr)
                runs = timed_loop(sc, host, rss, args.seconds, "run", wl.iteration,
                                  traced_iteration)
                # the traced jobs ran under the spans' job groups
                traced = [r for r in runs if r["group"].startswith("traced")]
                for r, sp in zip(traced, [s for s in tr.spans if s.name == "iteration"]):
                    r["jobs"] = sum(s.jobs for s in tr.inclusive(sp))
                    r["tasks"] = sum(s.tasks for s in tr.inclusive(sp))
                wl.layers(tr, out)
            else:
                runs = timed_loop(sc, host, rss, args.seconds, "run", wl.iteration)
            expected = wl.expected()
            layer_failures = wl.layer_checks() if args.trace else []
        finally:
            stop_spark(spark, host)

    failed = check_runs(runs, expected, first=warm[0])
    attempted = len(runs)
    for i, r in enumerate(warm + runs):
        print(f"{'warm-up' if i < len(warm) else 'run'} {i}: {r['wall_s']:.3f} s wall, "
              f"{r['cpu_s']:.2f} s cpu, {r['gc_s']:.2f} s gc, {r['steal_s']:.2f} s steal, "
              f"{r['jobs']} jobs, {r['tasks']} tasks, "
              f"ok={r.get('ok', '-')}", file=sys.stderr)
    correct = failed == 0 and not layer_failures

    if args.trace:
        tr.attach_event_log(os.path.join(work, "eventlog"))
        metrics = layer_metrics(spec, wl, tr, out, runs, nproc, failed / attempted)
    else:
        walls = [r["wall_s"] for r in runs]
        wall = statistics.median(walls)
        metrics = {"setup_s": setup_s, "wall_s": wall,
                   "pages_per_s": wl.input_pages / wall,
                   "cpu_s": statistics.median(r["cpu_s"] for r in runs),
                   "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in runs)}
        metrics = named(spec["end_to_end"], metrics)

    record.update({
        "loadavg_end": host.loadavg(), "setup_s": setup_s,
        "expected": repr(expected), "layer_failures": layer_failures,
        "warmup": [strip(r) for r in warm],
        "runs": [strip(r) for r in runs],
        "spans": tr.dump(),
    })
    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(json.dumps({k: record[k] for k in
                      ("workload", "seed", "nproc", "driver_memory", "spark",
                       "pyarrow", "loadavg_start", "loadavg_end")}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def check_runs(runs: list[dict], expected, first: dict) -> int:
    """Mark each run ok or not and return how many are not: a run fails
    if it raised, if its output differs from the oracle's, or if it
    launched far fewer Spark jobs or tasks than the first run, which
    means it reused earlier results instead of doing the work."""
    for r in runs:
        r["ok"] = (r["error"] is None and r["output"] == expected
                   and r["jobs"] >= JOB_FLOOR * first["jobs"]
                   and r["tasks"] >= JOB_FLOOR * first["tasks"])
    return sum(not r["ok"] for r in runs)


def strip(run: dict) -> dict:
    return {k: v for k, v in run.items() if k != "output"} | {"output": repr(run["output"])}


def named(entries: list[dict], values: dict, absent: tuple[str, ...] = ()) -> dict:
    """Every metric of ``entries`` with its unit. A metric may be missing
    from ``values`` only when it matches ``absent`` (a layer the workload
    does not run); it then reads 0."""
    out = {}
    for e in entries:
        name = e["name"]
        if name not in values and not any(fnmatch.fnmatch(name, p) for p in absent):
            raise KeyError(f"metric {name} was not measured")
        out[name] = {"value": float(values.get(name, 0)), "unit": e["unit"]}
    return out


def layer_metrics(spec, wl, tr, out, runs, nproc, failed_frac) -> dict:
    it = [s for s in tr.spans if s.name == "iteration"][-1]
    tot = tr.spark_totals(it)
    last = runs[-1]
    walls = {tag: [r["wall_s"] for r in runs if r["group"].startswith(tag)]
             for tag in ("run", "traced")}
    out.update({
        "functions.pip.py_bytes_sent": tot.get("py_bytes_sent", 0),
        "functions.pip.py_bytes_returned": tot.get("py_bytes_returned", 0),
        "functions.pip.worker_run_s": tot.get("py_worker_run_s", 0),
        "spark.jobs": tot.get("jobs", 0),
        "spark.stages": tot.get("stages", 0),
        "spark.tasks": tot.get("tasks", 0),
        "spark.executor_cpu_s": tot.get("executor_cpu_s", 0),
        "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
        "spark.spill_bytes": tot.get("spill_bytes", 0),
        "spark.gc_s": tot.get("gc_s", 0),
        "host.core_util": last["cpu_s"] / (last["wall_s"] * nproc),
        "host.loadavg_pre": last["loadavg_pre"][0],
        "trace.overhead_s": (statistics.median(walls["traced"])
                             - statistics.median(walls["run"])),
        "failed_frac": failed_frac,
    })
    for sp in tr.spans:
        if sp.name == "operators.neighbors.label_fusion":
            out["spark.task_skew"] = sp.spark.get("task_skew", 1.0)
            out["operators.neighbors.shuffle_write_bytes"] = sp.spark.get(
                "shuffle_write_bytes", 0)
    return named(spec["per_layer"], out, wl.layers_not_run)


if __name__ == "__main__":
    sys.exit(main())
