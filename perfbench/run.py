"""Job-level benchmark of the extract and curate batch jobs.

    python3 perfbench/run.py --workload extract_cc --seed 1 --seconds 20 --trace 0

Runs one workload (see workloads.py) from one driver process on
``local[4]``: set up (Spark session, seeded inputs, warm-up jobs), then a
closed loop of one batch job at a time for ``--seconds``, checking every
job's output. The last stdout line is one JSON object::

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` ones named in
BENCHMARK.json; with ``--trace 1`` the Spark event log is on, and after
the same loop each layer is timed prefix by prefix and the ``per_layer``
metrics are reported instead (spans go to ``.perfbench/``). The line
before it carries per-run detail: job walls, the share of machine CPU
burned by other processes during each job, output digests and errors.
Exits 1 if any job raised or failed its check.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import bench  # noqa: E402  (the repo's harness: session config, /proc meters)
import probes  # noqa: E402
from workloads import CORES, WORKLOADS  # noqa: E402

MIN_RUNS = 3  # measured jobs per run, even past --seconds
DRIVER_MEM = "1g"
NO_PERF_DATA = "-XX:-UsePerfData"
# C1 only, with the code cache tiered compilation would have. With C2 the
# driver JVM compiles 4-8 CPU-seconds per job for more than 20 jobs, so
# job walls fall by a third across a run and runs differ by how far their
# warm-up got; C1 code is steady from the second job on. The cache size
# keeps C1 from filling the 48 MB default and stopping compilation.
JIT = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def _spark_env(run_dir: str, trace: bool) -> None:
    """Point every file Spark, the JVM and Python workers write at
    ``run_dir``, and turn the event log on for traced runs."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "eventlog", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # The whole heap is committed and touched at start, so resident
        # memory does not creep up job by job as the heap grows: peak RSS
        # is the heap budget plus what moves with the program (off-heap,
        # metaspace, Python workers). JIT compiler threads live as long as
        # the JVM, so their CPU (probes.jit_s) never drops out of /proc.
        # No perf-data file, which the JVM would write to the system /tmp.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            f" -XX:-UseDynamicNumberOfCompilerThreads {JIT} {NO_PERF_DATA}"
        ),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + dirs["eventlog"]
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON-lines file
        conf["spark.eventLog.compress"] = "false"
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LAUNCHER_OPTS=NO_PERF_DATA,  # the JVM that spark-submit runs first
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell",
    )


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    others = [p for p in probes.tree() if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in others:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{os.getpid()}")
    _spark_env(run_dir, bool(args.trace))
    calib_ms = probes.host_calib_ms()
    t0 = time.perf_counter()
    spark = bench.build_spark(CORES, app=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    wl = WORKLOADS[args.workload](spark, run_dir, os.path.join(work, "cache"), args.seed)
    meter = bench.ForeignCpuMeter()
    jobs: list[dict] = []
    errors: list[str] = []
    detail: dict = {}

    def job() -> dict | None:
        wl.before()
        probes.reset_peak_rss()
        snap = meter.start()
        cpu0, jit0 = bench._tree_jiffies(os.getpid()), probes.jit_s()
        start = time.time()
        try:
            out = wl.run()
            jit = probes.jit_s() - jit0
            rec = {
                "wall": time.time() - start,
                # JIT compilation is warm-up work a long-running cluster
                # amortizes; it is counted apart (cpu.jit_s), not per row.
                "cpu": (bench._tree_jiffies(os.getpid()) - cpu0) / probes.CLK - jit,
                "jit": jit,
                "foreign": meter.stop(snap),
                "window": (start, time.time()),
                "peak_mb": probes.peak_rss_mb(),
            }
            detail.update(wl.check(out))
        except Exception as exc:  # every failed job is counted, never dropped
            errors.append(f"{type(exc).__name__}: {exc}"[:500])
            return None
        return rec

    wl.prepare()
    prepare_s = time.perf_counter() - t0 - session_s
    warm = [job() for _ in range(wl.warmup)]
    setup_s = time.perf_counter() - t0

    t_measure = time.perf_counter()
    while len(jobs) < MIN_RUNS or time.perf_counter() - t_measure < args.seconds:
        jobs.append(job())

    ok = [j for j in jobs if j is not None]
    rates = [wl.rows / j["wall"] for j in ok]
    foreign = [j["foreign"] for j in ok]
    if args.trace:
        tracer = probes.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        t_trace = time.perf_counter()
        with tracer.span(args.workload):
            metrics = wl.trace(tracer)
        metrics["trace.s"] = time.perf_counter() - t_trace
        metrics["trace.rows_per_s"] = statistics.median(rates) if rates else 0.0
        metrics["host.foreign_cpu_share"] = statistics.median(foreign) if foreign else 0.0
        metrics["cpu.jit_s"] = statistics.median(j["jit"] for j in ok) if ok else 0.0
    else:
        metrics = {
            "rows_per_s": rates,
            "cpu_s_per_krow": [j["cpu"] / wl.rows * 1000 for j in ok],
            "peak_rss_mb": [j["peak_mb"] for j in ok],
        }
        metrics = {k: statistics.median(v) if v else 0.0 for k, v in metrics.items()}
        metrics["setup_s"] = setup_s
    _stop(spark)
    if args.trace:
        metrics.update(
            probes.event_log_metrics(os.path.join(run_dir, "eventlog"), [j["window"] for j in ok], CORES)
        )
        tracer.dump(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    missing = [m["name"] for m in declared if m["name"] not in metrics]
    runs = warm + jobs
    failed = sum(1 for r in runs if r is None)
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "rows_per_job": wl.rows,
                "jobs": len(jobs),
                "walls_s": [round(j["wall"], 4) for j in ok],
                "cpu_s": [round(j["cpu"], 3) for j in ok],
                "jit_s": [round(j["jit"], 3) for j in ok],
                "foreign_cpu_share": [round(f, 4) for f in foreign],
                "host_calib_ms": round(calib_ms, 2),
                "session_s": round(session_s, 3),
                "prepare_s": round(prepare_s, 3),
                "failed_share": failed / len(runs),
                "not_applicable": missing,
                "errors": errors,
                **detail,
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(runs),
                "failed": failed,
                "metrics": {
                    m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared
                },
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
