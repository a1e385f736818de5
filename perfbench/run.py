"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in this process on ``local[<nproc>]`` and prints, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` the run is
traced and the metrics are the per-layer ones. The line before it holds
the sample count behind every metric and the run context (machine
reference times, tail percentiles). See perfbench/README.md.

Everything the run writes (generated inputs, Spark scratch, checkpoints)
goes to a directory of its own under ``perfbench/.work/`` in the checkout and
is removed at the end; a traced run leaves its spans in
``perfbench/.work/trace-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# this run's scratch directory, so that runs in one checkout never collide
WORK = os.path.join(HERE, ".work", f"run-{os.getpid()}")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
# A workload BENCHMARK.json does not list, run only traced: it is the
# executor-bound side of the traced split check (README.md), and its runs
# take too long for the number of runs a full check makes.
TRACE_ONLY_WORKLOADS = {"batch_heavy"}


def process_start_time() -> float:
    """Wall-clock time at which this process started, to the clock tick.

    /proc/self/stat gives the start in ticks since boot; CLOCK_BOOTTIME
    counts from the same origin, so their difference is the process's age.
    """
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def machine_ref_s() -> float:
    """Time a fixed single-thread CPU loop; a context column, never a divisor."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        kids.append(int(entry))
            except OSError:
                continue
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        kid = todo.pop()
        out.append(kid)
        todo.extend(_children(kid))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS of this driver process and of its JVM, in MB."""
    jvms = [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    return _vm_hwm_mb(os.getpid()), sum(_vm_hwm_mb(p) for p in jvms)


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until every process it started has ended."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and _proc_state(pid) != "Z":
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.time() + 5
            time.sleep(0.05)


def _proc_state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1]) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s) - 1e-9) - 1)]


def beyond(n: int, q: float) -> int:
    """How many of n samples lie above their nearest-rank q-th percentile."""
    return n - max(1, math.ceil(q * n - 1e-9))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Result:
    """Metric values with their sample counts, plus correctness accounting."""

    def __init__(self):
        self.metrics: dict[str, tuple[float, int]] = {}
        self.context: dict = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def put(self, name: str, value: float, n: int = 1) -> None:
        self.metrics[name] = (float(value), int(n))

    def put_rss(self) -> None:
        driver, jvm = peak_rss_mb()
        self.context["peak_rss_mb"] = {"driver": driver, "jvm": jvm}
        self.put("peak_rss_mb", driver + jvm)

    def check(self, ok: bool, problem: str = "") -> None:
        """Count one checked operation; a failed one also fails the run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(problem)


def configure_environment(cpus: int) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a fixed, modest driver heap with a fixed young generation: runs stay
    # small on a shared machine, and the memory the JVM touches does not
    # follow the collector's adaptive sizing, which differs from run to run
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_<user>;
    # spark-submit starts a launcher JVM first, with options of its own
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn512m"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers import the engine's UDFs whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    """The engine's own session factory, as bench.py uses it."""
    from windflow_spark import get_spark

    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("OFF")
    return spark


def trace_path(workload: str, seed: int) -> str:
    return os.path.join(HERE, ".work", f"trace-{workload}-{seed}.jsonl")


def load_spec() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_process = process_start_time()
    spec = load_spec()
    if args.workload in TRACE_ONLY_WORKLOADS:
        if not args.trace:
            ap.error(f"{args.workload} runs only with --trace 1")
    elif args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    configure_environment(cpus)
    from perfbench import batch, stream

    run = batch.run if args.workload.startswith("batch_") else stream.run
    result = Result()
    ref0 = machine_ref_s()
    try:
        run(args.workload, args.seed, args.seconds, bool(args.trace), t_process, result)
    finally:
        result.context["machine.ref_s"] = [ref0, machine_ref_s()]
        result.put("machine.ref_s", median(result.context["machine.ref_s"]), 2)
        shutil.rmtree(WORK, ignore_errors=True)

    for m in wanted:
        # a layer the workload does not exercise, or a percentile its samples
        # do not support, reads 0 from 0 samples
        result.metrics.setdefault(m["name"], (0.0, 0))
    result.context["samples"] = {name: n for name, (_, n) in sorted(result.metrics.items())}
    if result.problems:
        result.context["problems"] = result.problems[:20]
    print(json.dumps({"context": result.context}))
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {
            m["name"]: {"value": result.metrics[m["name"]][0], "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
