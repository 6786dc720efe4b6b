"""Benchmark entry point.

    python3 perfbench/run.py --workload {kv_tools,corpus_pipeline}
                             --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It generates the workload's inputs from
the seed, sets the engine up three times (the first launch starts the JVM),
runs the workload as a closed loop for S seconds, checks every output, and
prints the metrics. The last line of standard output is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
A run record with every metric, its unit, n and percentile, the input facts
and the host facts is written under ``.perfbench/records/``.

Everything the run reads or writes stays under ``.perfbench/`` in the
checkout: inputs, Spark scratch and shuffle files, the JVM's temp dir and,
for traced runs, the Spark event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PACKAGE = "symat_hbase_tools_spark"
SETUP_REPS = 3
DRIVER_MEMORY = "1536m"
#: JIT compiler threads run at the lowest OS priority (nice 19), so they take
#: only CPU the request threads leave idle. Compilation is about half of a
#: run's CPU time; at normal priority it competes with the requests whenever
#: the host gives the run fewer cores than it asks for, and the timings follow
#: the host's load. On an idle host the medians stay within run-to-run noise.
JVM_OPTIONS = ["-XX:ThreadPriorityPolicy=1", "-XX:CompilerThreadPriority=19"]

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["kv_tools", "corpus_pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(root: str, run_dir: str, trace: bool) -> dict:
    """Point every scratch location of Python, Spark and the JVM inside
    ``run_dir`` and make the package importable in Python workers."""
    dirs = {k: os.path.join(run_dir, k) for k in ("data", "tmp", "spark-local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cpus = str(os.cpu_count() or 4)
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", " ".join([f"-Djava.io.tmpdir={dirs['tmp']}", *JVM_OPTIONS]),
    ]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
        ]
    env = {
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([root, *filter(None, [os.environ.get("PYTHONPATH")])]),
        "PYSPARK_SUBMIT_ARGS": shlex.join(conf + ["pyspark-shell"]),
        "SYMAT_WAREHOUSE": os.path.join(dirs["data"], "warehouse"),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None
    return {"dirs": dirs, "env": env, "cpus": int(cpus)}


def _worker_warmup(batches):
    """Python-worker warm-up: import the Arrow kernel stack and the package
    (a worker that cannot import it fails here, in set-up)."""
    import numpy  # noqa: F401
    import pandas as pd

    import symat_hbase_tools_spark as pkg

    for _ in batches:
        yield pd.DataFrame({"path": [os.path.dirname(pkg.__file__)]})


def set_up(workload, cpus: int) -> tuple:
    """Launch the JVM once, then build the session, warm it up (one JVM job,
    and one Python-worker job when the workload runs Python kernels) and run
    the workload's own set-up ``SETUP_REPS`` times (stopping the session between
    repetitions). ``setup_s`` is the launch plus the median repetition; the
    first repetition runs in a cold JVM, so launch plus the first repetition
    is kept next to it as ``setup_cold_s``."""
    from pyspark import SparkContext

    from symat_hbase_tools_spark.session import get_spark

    t0 = time.perf_counter()
    SparkContext._ensure_initialized()
    launch_s = time.perf_counter() - t0
    reps, spark, worker_path = [], None, None
    for k in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        t1 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        if workload.python_workers:
            worker_path = (
                spark.range(cpus * 4).repartition(cpus)
                .mapInPandas(_worker_warmup, schema="path string").first()["path"]
            )
        t2 = time.perf_counter()
        workload.setup(spark, k)
        t3 = time.perf_counter()
        reps.append({"build_s": t1 - t0, "warmup_s": t2 - t1, "workload_s": t3 - t2, "total_s": t3 - t0})
    info = {
        "launch_s": launch_s,
        "reps": reps,
        "setup_s": launch_s + statistics.median(r["total_s"] for r in reps),
        "setup_cold_s": launch_s + reps[0]["total_s"],
        "build_s": statistics.median(r["build_s"] for r in reps),
        "worker_package_path": worker_path,
    }
    return spark, info


def shut_down() -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from measure import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (OSError, ChildProcessError):
            pass


def jvm_heap_peak_bytes(spark) -> int:
    """Sum of the peak use of the driver JVM's heap pools since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    )


def host_steal_s() -> float:
    """CPU time the hypervisor gave other guests while this machine's CPUs
    wanted to run, summed over CPUs since boot (0 where not reported). A run
    whose set-up and loop saw much of it ran on a busy host."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def host_facts(spark, cpus: int) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "local_cores": cpus,
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "driver_java_options": JVM_OPTIONS,
        "python": sys.version.split()[0],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"error: no {PACKAGE}/ package in {root}; run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = prepare_env(root, run_dir, bool(args.trace))

    import metrics
    from measure import RssSampler
    from workloads import WORKLOADS, Runner

    workload = WORKLOADS[args.workload](env["dirs"]["data"], args.seed)
    t0 = time.perf_counter()
    inputs = workload.make_inputs()
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    workload.oracle()
    oracle_s = time.perf_counter() - t0

    tracer = None
    steal0 = host_steal_s()
    with RssSampler() as rss:
        try:
            spark, setup = set_up(workload, env["cpus"])
            facts = host_facts(spark, env["cpus"])
            if args.trace:
                from tracing import Tracer

                tracer = Tracer(spark.sparkContext)
                tracer.install()
            runner = Runner(spark, [env["dirs"]["data"], env["dirs"]["tmp"]], tracer)
            t0 = time.perf_counter()
            workload.run(runner, args.seconds)
            loop_s = time.perf_counter() - t0
            steal_s = host_steal_s() - steal0
            heap_peak = jvm_heap_peak_bytes(spark)
            app_id = spark.sparkContext.applicationId
        finally:
            if tracer:
                tracer.uninstall()
            shut_down()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": inputs,
        "input_gen_s": gen_s,
        "oracle_s": oracle_s,
        "host": facts,
        "worker_pythonpath": env["env"]["PYTHONPATH"],
        "setup": setup,
        "loop_s": loop_s,
        "host_steal_s": steal_s,
        "jvm_heap_peak_mb": heap_peak / 2**20,
        "requests": runner.records,
    }
    e2e = metrics.end_to_end(args.workload, runner.records, setup, rss.peak)
    record["end_to_end"] = e2e["metrics"]
    record["workload_metrics"] = e2e["named"]
    out = {m["name"]: e2e["metrics"][m["name"]] for m in spec["end_to_end"]}
    if tracer:
        from tracing import read_event_log

        log = read_event_log(env["dirs"]["eventlog"], app_id)
        layers = metrics.per_layer(runner.records, tracer.spans, log, setup)
        record["per_layer"] = layers
        record["overhead_vs_untraced"] = metrics.overhead(work, record)
        out = {m["name"]: layers[m["name"]] for m in spec["per_layer"]}
    attempted = len(runner.records)
    failed = sum(not r["ok"] for r in runner.records)

    os.makedirs(os.path.join(work, "records"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    rec_path = os.path.join(work, "records", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer:
        tracer.dump(rec_path.replace(".json", ".spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    metrics.print_summary(record, sys.stdout)
    print(f"# record: {os.path.relpath(rec_path, root)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
