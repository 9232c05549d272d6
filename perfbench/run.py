"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 24 --trace 0

Runs one workload (workloads.py) on ``local[<cores>]`` in this process,
from the root of a source checkout: makes the inputs from ``--seed``,
starts the session and prepares the workload, runs a fixed number of ops
in a closed loop with one client (sized from ``--seconds``, see
``workloads.Workload``), checks every op's output against an oracle, and
prints one JSON object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics: the CPU time of set-up,
the median CPU time per op and the peak RSS. ``--trace 1`` wraps the
layer functions, traces half the ops and reports per-layer self times
and counters from the traced ops, with the tracing overhead as the
median traced op minus the median untraced op of the same kind. Each
run also writes a record (per-op wall and CPU times, the input hash, the
wall time of set-up and, when traced, every span) to ``.perfbench_out/``.

Exits 2 without a result when the package cannot be imported.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_pipeline_and_visualization_dashboard_spark"
# An op never starts after this much wall time, so a run ends well
# inside 180 s even on a slow machine.
OP_DEADLINE_S = 130.0
DRIVER_MEM = "2g"
# G1 sizes its young generation from measured pause times, so how much
# of the heap a run touches, and with it the JVM's peak RSS, varies from
# run to run. A fixed young generation narrowed the five-seed spread of
# peak_rss_mb on events_etl from 0.14 to 0.10 on a 4-vCPU VM; it does
# not remove that spread (baseline.json, earlier_version_sets).
YOUNG_GEN = "256m"

END_TO_END = {"setup_s": "s", "op_cpu_ms": "ms", "peak_rss_mb": "MB"}


def per_layer_spec() -> list[tuple[str, str, tuple]]:
    """(metric, unit, source). Sources: ("setup", span names) and
    ("ops", span names) are summed self times, in seconds, of the setup
    phase or per traced op (median over ops); ("stat", key) is a counter
    or derived value from the workload."""
    from workloads import Dashboard

    spec = [
        ("session.get_spark_s", "s", ("setup", ["session.get_spark"])),
        ("io.cache_materialized_s", "s", ("setup", ["io.cache_materialized"])),
        ("io.read_table_ms", "ms", ("ops", ["io.read_table"])),
        ("validate.validate_schema_ms", "ms", ("ops", ["validate.validate_schema"])),
        ("clean.clean_events_observed_ms", "ms",
         ("ops", ["clean.clean_events_observed"])),
        ("derive.derive_event_columns_ms", "ms",
         ("ops", ["derive.derive_event_columns"])),
        ("io.write_parquet_s", "s", ("ops", ["io.write_parquet"])),
        ("io.write_parquet_files", "count", ("stat", "io.write_parquet_files")),
        ("io.write_parquet_bytes", "bytes", ("stat", "io.write_parquet_bytes")),
        ("pipeline.self_ms", "ms", ("ops", ["pipeline.run_events_pipeline"])),
        ("pipeline.spark_jobs", "count", ("stat", "pipeline.spark_jobs")),
        ("pipeline.spark_tasks", "count", ("stat", "pipeline.spark_tasks")),
        ("pipeline.failed_tasks", "count", ("stat", "pipeline.failed_tasks")),
        ("pipeline.rows_per_s", "rows/s", ("stat", "pipeline.rows_per_s")),
        ("pipeline.write_amp", "ratio", ("stat", "pipeline.write_amp")),
        ("charts.filtered_events_build_ms", "ms", ("ops", ["charts.filtered_events"])),
    ]
    spec += [(f"charts.{p}_ms", "ms",
              ("ops", [f"charts.{p}.build", f"charts.{p}.exec"]))
             for p in Dashboard.PRODUCERS]
    spec += [
        ("dashboard.self_ms", "ms", ("ops", ["dashboard.render_payload"])),
        ("dashboard.spark_jobs", "count", ("stat", "dashboard.spark_jobs")),
        ("dashboard.spark_tasks", "count", ("stat", "dashboard.spark_tasks")),
        ("dashboard.failed_tasks", "count", ("stat", "dashboard.failed_tasks")),
    ]
    spec.append(("trace.overhead_ms", "ms", ("stat", "trace.overhead_ms")))
    return spec


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def cpu_seconds(pids: tuple[int, ...]) -> float:
    """User plus system CPU time of processes so far, from /proc. The
    kernel counts time the host stole from this machine as steal, not as
    the processes' time."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat: the
    share of time the host ran other guests instead of this machine."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def _sweep_dead_runs(parent: str) -> None:
    """Remove the work directories of runs killed before their own
    clean-up (named ``<workload>-<seed>-<pid>``, pid no longer alive)."""
    for name in os.listdir(parent) if os.path.isdir(parent) else []:
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def run(args) -> dict:
    import spans
    import workloads
    from data_pipeline_and_visualization_dashboard_spark import session

    tracer = spans.Tracer()
    parent = os.path.join(ROOT, ".perfbench_work")
    _sweep_dead_runs(parent)
    work = os.path.join(parent, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = tmp
    wl = workloads.WORKLOADS[args.workload](args.seed, work, tracer)
    spark = None
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    try:
        t = time.perf_counter()
        record["input_hash"] = wl.generate()
        t_gen = time.perf_counter() - t
        if args.trace:
            wl.install_trace()
            tracer.active = True
        cores = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = session.get_spark(
                app_name="perfbench", master=f"local[{cores}]",
                shuffle_partitions=cores,
                extra_conf={
                    "spark.local.dir": tmp,
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{YOUNG_GEN}",
                })
        record["session_s"] = time.perf_counter() - t
        wl.prepare(spark)
        tracer.active = False
        from pyspark import SparkContext

        pids = (os.getpid(), SparkContext._gateway.proc.pid)
        # CPU time, like op_cpu_ms: the input generator's child process
        # is not counted
        setup_s = cpu_seconds(pids)
        record["setup_wall_s"] = time.perf_counter() - T_START - t_gen
        steal0 = cpu_jiffies()
        ops = _window(args, wl, spark, tracer, pids)
        steal1 = cpu_jiffies()
        # a run on a host busy with other guests reads slow; the record
        # says so, since no metric can
        record["window_cpu_steal"] = (steal1[0] - steal0[0]) / max(
            steal1[1] - steal0[1], 1)
        # before the output checks, whose oracle runs in this process
        rss = {"python": vm_hwm_mb(pids[0]), "jvm": vm_hwm_mb(pids[1])}
        t = time.perf_counter()
        _check(wl, ops)
        # read after the checks, when the status tracker has caught up
        for op in ops:
            if op["traced"]:
                op["stats"] = wl.op_stats(op["group"])
        record.update(peak_rss_mb=rss, gen_s=t_gen, setup_s=setup_s,
                      check_s=time.perf_counter() - t, ops=[
                          {k: v for k, v in o.items() if k != "out"} for o in ops])
        extra = wl.layer_metrics([o["latency_s"] for o in ops if o["ok"]],
                                 [o["out"] for o in ops if o["ok"]])
    finally:
        tracer.active = False
        tracer.restore()
        try:
            if spark is not None:
                wl.close()
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    ok = [o for o in ops if o["ok"]]
    failed = len(ops) - len(ok)
    if args.trace:
        metrics = _per_layer(ops, tracer, extra)
        layers = _layer_self_times(tracer, ops)
        record["layer_self_ms_per_op"] = layers
        print("per-layer self time, ms per traced op: " + json.dumps(layers),
              file=sys.stderr)
    else:
        record["op_wall_p50_ms"] = 1e3 * statistics.median(
            o["latency_s"] for o in ok)
        print(f"wall time: set-up {record['setup_wall_s']:.2f} s, median op "
              f"{record['op_wall_p50_ms']:.1f} ms", file=sys.stderr)
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_cpu_ms": (1e3 * statistics.median(o["cpu_s"] for o in ok), "ms"),
            "peak_rss_mb": (rss["python"] + rss["jvm"], "MB"),
        }
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record["result"] = result
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.json")
    tracer.dump(path, record)
    return result


def _window(args, wl, spark, tracer, pids) -> list[dict]:
    """Closed loop, one client: run the workload's fixed number of ops
    for a run of --seconds, timing each in wall and CPU time. On a host
    so slow that they take twice --seconds, stop early. When tracing,
    trace ops in an ABBA pattern, so traced and untraced ops sit at the
    same points of the warm-up curve on average."""
    ops: list[dict] = []
    n = wl.n_ops(args.seconds)
    start = time.perf_counter()
    for i, (label, call) in zip(range(n), wl.ops()):
        traced = bool(args.trace) and i % 4 in (0, 3)
        # a group per op, so no op's jobs count towards another's
        group = f"perfbench-{i}"
        spark.sparkContext.setJobGroup(group, label)
        tracer.op, tracer.active = str(i), traced
        op = {"i": i, "label": label, "traced": traced, "ok": True,
              "group": group}
        t, cpu = time.perf_counter(), cpu_seconds(pids)
        try:
            with tracer.span(wl.root_span):
                op["out"] = call()
        except Exception:
            op.update(ok=False, error=traceback.format_exc(limit=3))
            print(f"op {i} ({label}) failed:\n{op['error']}", file=sys.stderr)
        op["latency_s"] = time.perf_counter() - t
        op["cpu_s"] = cpu_seconds(pids) - cpu
        tracer.active = False
        ops.append(op)
        now = time.perf_counter()
        if now - start > 2 * args.seconds or now - T_START > OP_DEADLINE_S:
            break
    spark.sparkContext.setJobGroup("perfbench-after", "after the timed window")
    return ops


def _check(wl, ops: list[dict]) -> None:
    for op in ops:
        if not op["ok"]:
            continue
        try:
            wl.check(op["label"], op["out"])
        except Exception:
            op.update(ok=False, error=traceback.format_exc(limit=3))
            print(f"op {op['i']} ({op['label']}) output check failed:\n"
                  f"{op['error']}", file=sys.stderr)


def _per_layer(ops: list[dict], tracer, extra: dict) -> dict:
    import spans

    by_name = spans.self_time_by_op(tracer.spans)
    traced = [str(o["i"]) for o in ops if o["traced"] and o["ok"]]
    stats: dict[str, list[float]] = {}
    for o in ops:
        for k, v in o.get("stats", {}).items():
            stats.setdefault(k, []).append(v)
    stats = {k: statistics.median(v) for k, v in stats.items()}
    stats.update(extra)
    lat = lambda pick: [o["latency_s"] for o in ops if o["ok"] and pick(o)]  # noqa: E731
    # traced minus untraced, compared within one op label (new or
    # repeated sidebar state), so the mix of labels does not count
    diffs = []
    for label in {o["label"] for o in ops}:
        on = lat(lambda o: o["label"] == label and o["traced"])
        off = lat(lambda o: o["label"] == label and not o["traced"])
        if on and off:
            diffs.append(statistics.median(on) - statistics.median(off))
    if diffs:
        stats["trace.overhead_ms"] = 1e3 * statistics.median(diffs)
    out = {}
    for metric, unit, (kind, what) in per_layer_spec():
        scale = 1e3 if unit == "ms" else 1.0
        if kind == "setup":
            v = scale * sum(by_name.get(n, {}).get("setup", 0.0) for n in what)
        elif kind == "ops":
            v = scale * statistics.median(
                [sum(by_name.get(n, {}).get(op, 0.0) for n in what)
                 for op in traced]) if traced else 0.0
        else:
            v = stats.get(what, 0.0)
        out[metric] = (v, unit)
    return out


def _layer_self_times(tracer, ops: list[dict]) -> dict[str, float]:
    """Self time per layer (span name up to its first dot), ms per
    traced op."""
    import spans

    traced = {str(o["i"]) for o in ops if o["traced"]}
    totals: dict[str, float] = {}
    for s, t in zip(tracer.spans, spans.self_times(tracer.spans)):
        if s.op in traced:
            layer = s.name.split(".")[0]
            totals[layer] = totals.get(layer, 0.0) + 1e3 * t
    return {k: v / max(len(traced), 1) for k, v in sorted(totals.items())}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        __import__(PACKAGE)
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
