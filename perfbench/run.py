"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_reports --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. It pins the environment,
builds the engine's session, sets the workload up from the seed, runs
a warm-up counted in ops, then a timed window counted in ops (sized
from ``--seconds`` and the workload's nominal op cost, never from
measured speed), checks every op's result, and prints one JSON result
as its last line. ``--trace 1`` is a separate run that times the calls
into each engine module and reports per-layer metrics instead of the
end-to-end ones. A metadata line (tail percentile, drift check, load
and steal, set-up parts, every op latency) is printed just before it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

_T0 = time.perf_counter()
# The driver heap is fixed at 1 GB, committed and touched at JVM start
# (-Xms = -Xmx, AlwaysPreTouch), instead of the engine's 8 GB default
# that grows on demand: with the default, the heap's resident size
# depends on when G1 grows the heap, and peak_rss_mb varied by 12 % and
# cpu_s_per_op by 16 % (quartile spread) over ten seeds of etl_reports
# on a 4-core host.
# Heap use shows in the traced run's jvm.heap_live_mb instead.
DRIVER_MEMORY = "1g"
JAVA_OPTS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"
MAX_RUN_S = 150.0  # stop the window early past this, to end within 180 s
END_TO_END = ("setup_s", "ops_per_s", "op_p50_s", "cpu_s_per_op", "peak_rss_mb")


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE_AT_T0 = _process_age_s()


def _since_start() -> float:
    return _AGE_AT_T0 + time.perf_counter() - _T0


def _loadavg_1m() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def _pin_environment(root: str, work: str, cpus: int) -> int:
    """Environment the engine and its Python workers inherit; returns
    the pinned Spark parallelism."""
    cpus = min(cpus, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        TZ="UTC",
    )
    time.tzset()
    return cpus


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "talkdesk_async_etl_spark", "session.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    cpus = _pin_environment(root, work, WORKLOADS[args.workload].cpus)
    try:
        result = _run(args, root, work, cpus, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _start_session(name: str, cpus: int):
    from talkdesk_async_etl_spark.session import build_session

    return build_session(
        app_name=f"perfbench-{name}",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # The default 15 s timer fires a full GC inside random ops;
            # one full GC runs at the start of the timed window instead.
            "spark.cleaner.periodicGC.interval": "1h",
            # UsePerfData off: no JVM performance-data file in /tmp.
            "spark.driver.extraJavaOptions": (
                f"{JAVA_OPTS} -Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and every Python
    worker it started have exited."""
    from procstat import sample_tree

    pids = [p for p in sample_tree().pids if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def _run(args, root, work, cpus, workload_cls) -> dict:
    from harness import Harness
    from spans import Tracer

    load_start = _loadavg_1m()
    tracer = Tracer(enabled=False)
    setup = {}
    t = time.perf_counter()
    spark = _start_session(args.workload, cpus)
    setup["session.build_s"] = time.perf_counter() - t
    driver_memory = spark.conf.get("spark.driver.memory")
    try:
        wl = workload_cls(spark, work, args.seed, tracer)
        h = Harness(spark, wl, tracer, traced=bool(args.trace))
        try:
            t = time.perf_counter()
            wl.load_engine()
            setup["engine.import_s"] = time.perf_counter() - t
            t = time.perf_counter()
            wl.setup()
            setup["inputs.build_s"] = time.perf_counter() - t
            t = time.perf_counter()
            warm = h.run_ops(wl.warmup_ops(), first_index=0, window=False)
            setup["warmup_s"] = time.perf_counter() - t
            setup_s = _since_start()
            planned = wl.window_ops(args.seconds, traced=bool(args.trace))
            deadline = time.perf_counter() + max(0.0, MAX_RUN_S - _since_start())
            window = h.run_window(planned, len(warm), deadline)
        finally:
            wl.close()
        metrics, meta = h.summarize(window, setup_s, setup)
    finally:
        _stop_session(spark)
    timed = window.records
    meta.update(
        workload=args.workload, seed=args.seed, cpus=cpus, driver_memory=driver_memory,
        warmup_ops=len(warm), window_ops=len(planned),
        truncated=len(timed) < len(planned), host_steal_pct=window.steal_pct,
        warmup_failed=[r.error for r in warm if r.error][:5],
        ops_failed=[r.error for r in timed if r.error][:5],
        warmup_latencies_s=[r.latency_s for r in warm],
        window_latencies_s=[r.latency_s for r in timed],
        loadavg_1m_start=load_start, loadavg_1m_end=_loadavg_1m(),
        setup_parts={**setup, **wl.setup_parts},
    )
    if args.trace:
        path = os.path.join(root, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path)
        meta["trace_file"] = os.path.relpath(path, root)
    print(json.dumps({"perfbench_meta": meta}))
    failed = sum(1 for r in timed if r.error)
    wanted = (lambda k: k not in END_TO_END) if args.trace else (lambda k: k in END_TO_END)
    return {
        "correct": failed == 0 and not meta["warmup_failed"] and not meta["truncated"],
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: v for k, v in metrics.items() if wanted(k)},
    }


if __name__ == "__main__":
    sys.exit(main())
