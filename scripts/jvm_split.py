"""Split each perfbench op's CPU time by where it was spent.

    python3 scripts/jvm_split.py --workload dashboard [--seed 1]

Runs one workload of ``perfbench/workloads.py`` the way
``perfbench/run.py`` does (same inputs from the seed, same set-up, the
fixed number of ops of BENCHMARK.json's ``run_seconds``), without its
checks, and prints one row for the set-up after the session starts
(``prepare``) and one per op:

- ``total``: the CPU time of the Python driver plus the whole JVM, read
  by ``run.cpu_seconds``, as ``op_cpu_ms`` is;
- ``python``: the Python driver process;
- the JVM's threads by name, from ``/proc/<pid>/task/*/stat``: ``jit``
  (the C1/C2 compiler threads), ``executor`` (the task threads),
  ``gc`` (the GC workers, G1's concurrent threads and the VM thread)
  and ``driver`` (every other thread: py4j, the scheduler, RPC, ...);
- ``exited``: what threads that ended during the op used. HotSpot
  retires idle compiler threads, so a per-thread sum alone misses part
  of the op; this row is the process total minus the threads alive at
  its end;
- ``janino``: classes compiled by Spark's code generator
  (``CodegenMetrics``), and ``jit_ms``: the time the JIT compilers
  report (``CompilationMXBean``, wall time summed over its threads).

CPU times are in ms. The per-thread read happens between ops, so it
adds a little ``python`` and ``driver`` time of its own.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run as perfbench  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

COLUMNS = ["total", "python", "jit", "executor", "gc", "driver", "exited",
           "janino", "jit_ms"]


def _thread_seconds(stat_path: str) -> float:
    """User plus system CPU time of one thread so far. run.cpu_seconds
    reads whole processes: /proc/<tid>/stat sums the thread group."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _kind(name: str) -> str:
    if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "jit"
    if name.startswith("Executor task"):
        return "executor"
    if name.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return "driver"


def _threads(pid: int) -> dict[int, tuple[str, float]]:
    """tid -> (kind, CPU seconds so far) of the process's live threads."""
    out = {}
    task = f"/proc/{pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as f:
                name = f.read().strip()
            out[int(tid)] = (_kind(name),
                             _thread_seconds(f"{task}/{tid}/stat"))
        except OSError:  # the thread ended while being read
            pass
    return out


class Probe:
    """Counters of the Python driver and its JVM at one instant."""

    def __init__(self, spark) -> None:
        from pyspark import SparkContext

        jvm = spark._jvm
        self.pids = (os.getpid(), SparkContext._gateway.proc.pid)
        self.codegen = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                        .METRIC_COMPILATION_TIME())
        self.jit = jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()

    def read(self) -> dict:
        python, jvm = self.pids
        return {
            "python": perfbench.cpu_seconds((python,)),
            "jvm": perfbench.cpu_seconds((jvm,)),
            "threads": _threads(jvm),
            "janino": self.codegen.getCount(),
            "jit_ms": self.jit.getTotalCompilationTime(),
        }


def split(before: dict, after: dict) -> dict[str, float]:
    """One row: CPU ms per kind between two reads, and the counters."""
    row = dict.fromkeys(["jit", "executor", "gc", "driver"], 0.0)
    live = 0.0
    for tid, (kind, seconds) in after["threads"].items():
        delta = seconds - before["threads"].get(tid, (kind, 0.0))[1]
        row[kind] += 1e3 * delta
        live += delta
    jvm = after["jvm"] - before["jvm"]
    row["exited"] = 1e3 * (jvm - live)
    row["python"] = 1e3 * (after["python"] - before["python"])
    row["total"] = row["python"] + 1e3 * jvm
    row["janino"] = after["janino"] - before["janino"]
    row["jit_ms"] = after["jit_ms"] - before["jit_ms"]
    return row


def _print(label: str, row: dict) -> None:
    print(f"{label:<12}" + "".join(f"{row[c]:>10.0f}" for c in COLUMNS),
          flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS),
                    required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    from data_pipeline_and_visualization_dashboard_spark import session

    with tempfile.TemporaryDirectory(prefix="jvm_split-") as work:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_DRIVER_MEM"] = perfbench.DRIVER_MEM
        tempfile.tempdir = tmp
        wl = workloads.WORKLOADS[args.workload](args.seed, work, spans.Tracer())
        wl.generate()
        # run.run's session settings, copied: run.py has no function
        # that returns them (ROADMAP direction 4)
        cores = len(os.sched_getaffinity(0))
        spark = session.get_spark(
            app_name="jvm_split", master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.local.dir": tmp,
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    f"-Xmn{perfbench.YOUNG_GEN}",
            })
        try:
            probe = Probe(spark)
            print(f"{args.workload} seed {args.seed}: CPU ms per kind, "
                  f"Janino classes, JIT ms", flush=True)
            print(f"{'op':<12}" + "".join(f"{c:>10}" for c in COLUMNS))
            before = probe.read()
            wl.prepare(spark)
            after = probe.read()
            _print("prepare", split(before, after))
            n = wl.n_ops(seconds)
            for i, (label, call) in zip(range(n), wl.ops()):
                before = probe.read()
                call()
                after = probe.read()
                _print(f"{i} {label}", split(before, after))
        finally:
            wl.close()
            perfbench._stop_spark(spark)


if __name__ == "__main__":
    main()
