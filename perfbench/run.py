"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client process drives Spark on
local[``SPARK_THREADS``] in a closed loop: set-up (input
generation, repeated ``SETUP_REPEATS`` times and reported as the
median, plus importing the package, ``get_spark`` and the workload's
warm-up or cold iteration), then timed iterations (at least two) while
one more, as long as the last, would end within ``--seconds``, then
once-per-run output checks.

The last line of standard output is the result: ``correct``,
``attempted`` and ``failed`` count the timed ops and their output
checks, and ``metrics`` holds every end-to-end metric of
BENCHMARK.json with ``--trace 0``, every per-layer metric with
``--trace 1`` (0 for a layer the workload does not drive). The line
before it records the environment and how the figures were taken.

One task thread: with more, a stage waits for its slowest task, and on
a shared host that is the one whose core the host lent elsewhere. On 4
cores, the spread of ``var_reference``'s ``wall_s`` over five seeds
was 5-15% at local[1], 20% at local[2] and 13-32% at local[4]. The
per-layer metrics follow per-core work; a change that only adds
parallelism does not show here.

``--trace 1`` enables an uncompressed, non-rolling Spark event log
through ``PYSPARK_SUBMIT_ARGS``, but keeps its listener detached
through set-up and a timed loop of a quarter of ``--seconds``; it then
runs that loop again with the listener attached
(``trace.overhead_ratio`` is the traced loop's ``wall_s`` over the
untraced one's) and the workload's per-layer pass, and reduces the log
per job group after the run.
Everything the run writes stays under ``.perfbench_work/`` in the
working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("var_reference", "engine_queries")
SETUP_REPEATS = 3
SPARK_THREADS = 1


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark_env(work: str, threads: int, eventlog: str | None) -> None:
    """Point every scratch location of Spark and Python at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog:
        os.makedirs(eventlog)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # plan strings carry scan locations; untruncated, so scans
            # can be matched to the files they read
            "spark.sql.maxMetadataStringLength": "4096",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ.update({
        # every JVM, the launcher's too: temp files in work, no perf data
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(threads),
        "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
    })


def _timed_loop(wl, probe, seconds: float) -> list:
    """Iterations (at least two, so one slow call is never the whole
    sample) while one more, as long as the last, would end within
    ``seconds``: the count then does not flip with small changes in
    speed."""
    iters, t0 = [], time.perf_counter()
    while True:
        t_iter = time.perf_counter()
        iters.append(wl.iteration(probe))
        now = time.perf_counter()
        if len(iters) >= 2 and now + (now - t_iter) - t0 > seconds:
            return iters


def _stop_spark(spark, pid: int) -> None:
    """Stop the context, close the JVM and wait until every process the
    run started (JVM, Python workers) has ended."""
    import procfs
    from pyspark import SparkContext

    started = [p for p in procfs.tree_pids(pid) if p != pid]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for p in started:
        while _alive(p):
            if time.monotonic() > deadline:
                os.kill(p, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie (the workers are
    reparented once the JVM exits, and their new parent reaps them)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[1][:1] != "Z"
    except OSError:
        return False


def _layer_names() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def run(args) -> tuple[dict, dict]:
    import eventlog
    import harness
    import procfs

    pid = os.getpid()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{pid}")
    events = os.path.join(work, "eventlog") if args.trace else None
    os.makedirs(work)
    spark = None
    try:
        _spark_env(work, SPARK_THREADS, events)
        wl = importlib.import_module(f"workloads.{args.workload}").Workload(
            args.seed
        )
        inputs_s = [
            harness.timed(wl.prepare, os.path.join(work, f"inputs_{i}"))[1]
            for i in range(SETUP_REPEATS)
        ]
        t0 = time.perf_counter()
        for m in ("value_at_risk_spark.session", *wl.modules):
            importlib.import_module(m)
        import_s = time.perf_counter() - t0
        from value_at_risk_spark.session import get_spark

        spark, session_s = harness.timed(get_spark)
        if args.trace:
            # the event log was enabled at launch; detach its listener
            # until the traced loop, so set-up and the untraced loop
            # run without it
            jsc = spark.sparkContext._jsc.sc()
            bus, logger = jsc.listenerBus(), jsc.eventLogger().get()
            bus.removeListener(logger)
        wl.start(spark)
        probe = harness.Probe(spark)
        _, warm_s = harness.timed(wl.warm_up, probe)
        setup_s = import_s + session_s + statistics.median(inputs_s) + warm_s

        # the traced run times two loops and a per-layer pass
        loop_s = args.seconds / 4 if args.trace else args.seconds
        iters = _timed_loop(wl, probe, loop_s)
        if args.trace:
            # the same loop again with the event logger attached, then
            # the workload's per-layer pass; layer metrics read only
            # the spans from here on
            bus.addToEventLogQueue(logger)
            probe.spans.clear()
            traced = _timed_loop(wl, probe, loop_s)
            wl.layers(probe)
        failures, checks_s = harness.timed(wl.final_checks)
        peak_rss = procfs.tree_peak_rss_mb(pid)
        env = {
            "cpus": cpus,
            "spark_threads": SPARK_THREADS,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        _stop_spark(spark, pid)
        spark = None

        metrics, details = harness.summarize(iters, setup_s)
        ops = [op for it in iters + (traced if args.trace else []) for op in it]
        failed = sum(1 for op in ops if not op.ok)
        details.update({
            "workload": args.workload,
            "seed": args.seed,
            "env": env,
            "setup": {
                "inputs_s": inputs_s,
                "import_s": import_s,
                "get_spark_s": session_s,
                "warm_up_s": warm_s,
            },
            "final_checks_s": checks_s,
            "failed_ops_ratio": failed / len(ops),
            "failed_ops": sorted({op.name for op in ops if not op.ok}),
            "failed_checks": failures,
            "session_peak_rss_mb": peak_rss,
        })
        if hasattr(wl, "scenarios"):
            details["scenarios_per_s"] = wl.scenarios / metrics["wall_s"][0]
        if args.trace:
            trace = eventlog.Trace.from_file(_only_file(events))
            layer = wl.layer_metrics(probe, trace)
            layer.update({
                "session.get_spark.s": (session_s, "s"),
                "session.peak_rss_mb": (peak_rss, "MB"),
                "trace.overhead_ratio": (
                    harness.summarize(traced, setup_s)[0]["wall_s"][0]
                    / metrics["wall_s"][0],
                    "ratio",
                ),
            })
            metrics = _all_layers(layer)
        result = {
            "correct": failed == 0 and not failures,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, details
    finally:
        if spark is not None:
            _stop_spark(spark, pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still works there
            pass


def _only_file(directory: str) -> str:
    (name,) = os.listdir(directory)
    return os.path.join(directory, name)


def _all_layers(layer: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json, 0 where the workload
    does not drive that layer."""
    names = _layer_names()
    unknown = set(layer) - set(names)
    if unknown:
        raise KeyError(f"layer metrics missing from BENCHMARK.json: {unknown}")
    return {
        n: (float(layer[n][0]) if n in layer else 0.0, unit)
        for n, unit in names.items()
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "value_at_risk_spark")):
        print(
            f"run.py: no value_at_risk_spark package under {ROOT}",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    result, details = run(args)
    print(json.dumps(details, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
