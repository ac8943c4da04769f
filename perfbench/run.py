"""Benchmark entry point.

    python3 perfbench/run.py --workload {matdb_build,corpus_ingest} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process runs one workload: it
generates the inputs from --seed, sets up (session start, catalog
resolution and the verification pass make up `setup_s`), then repeats
timed passes until --seconds have elapsed, at least two. The last
stdout line is one JSON object {"correct", "attempted", "failed",
"metrics"}: with --trace 0 the metrics are the end-to-end set of
BENCHMARK.json, with --trace 1 the per-layer set. The line before it
is a JSON report: seed, set-up parts, wall, CPU and JIT compiler time
of every pass, op samples, CPU steal share and, on traced runs, the
frozen calibration probe of bench.py. The report, and the spans of a
traced run, are also written under .perfbench_out/.

Everything the run writes stays under the checkout: inputs, Spark local
dirs and temp files go to .perfbench_work/<run>/, removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CORPUS_OPS, PIPELINE_METHODS, WORKLOADS, Run, median,
)

WARM_RESOLVES = 5
# the first timed pass is still warming up, so no run publishes it alone;
# a traced run also needs an untraced pass to compare
MIN_PASSES = 2


def layer_units(ops: tuple[str, ...], methods: tuple[str, ...]) -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {
        "session.start_s": "s",
        "setup.cold_pass_s": "s",
        "catalog.resolve_s": "s",
        "catalog.resolve_warm_s": "s",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.spill_bytes": "bytes",
        "spark.failed_tasks": "count",
        "jvm.peak_rss_mb": "MB",
        "driver.peak_rss_mb": "MB",
        "trace.overhead_s": "s",
        "box.calib_s": "s",
    }
    for op in ops:
        units[f"queries.{op}.build_s"] = "s"
        units[f"queries.{op}.exec_s"] = "s"
        units[f"queries.{op}.tasks"] = "count"
        units[f"queries.{op}.shuffle_write_bytes"] = "bytes"
    for m in methods:
        units[f"plans.pipeline.{m}_s"] = "s"
    units.update({
        "plans.pipeline.groups": "count",
        "plans.provenance.manifests": "count",
        "configs_per_s": "1/s",
        "stored_bytes_per_config": "bytes",
        "streaming.ingest.batch_s": "s",
        "streaming.ingest.stage_s": "s",
        "streaming.ingest.rows_offered": "count",
        "streaming.ingest.rows_appended": "count",
        "streaming.ingest.accept_ratio": "ratio",
    })
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "tracy_matdb_spark")):
        print("perfbench: the tracy_matdb_spark package is not in this checkout", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["end_to_end" if not args.trace else "per_layer"]}
    have = (
        {"setup_s": "s", "pass_cpu_s": "s"}
        if not args.trace
        else layer_units(CORPUS_OPS, PIPELINE_METHODS)
    )
    if want != have:
        print("perfbench: BENCHMARK.json metrics differ from the ones run.py reports", file=sys.stderr)
        return 3

    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Python workers inherit the JVM's environment, so the package root
    # must be on PYTHONPATH before the session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TRACY_NO_PTH_HOOK"] = "1"  # keep get_session from writing to site-packages
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the launcher JVM spark-submit starts first
    cpus = len(os.sched_getaffinity(0))
    # JIT compiler threads stay alive, so their CPU time can be read per pass
    extra_conf = {"spark.driver.extraJavaOptions": f"{jvm_opts} -XX:-UseDynamicNumberOfCompilerThreads"}

    tracer = Tracer()
    run = Run(work, args.seed, tracer)
    workload = WORKLOADS[args.workload]()
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus}
    try:
        t = time.perf_counter()
        workload.prepare(run, calibration=traced)
        inputs_s = time.perf_counter() - t

        # -- set-up: imports, session start, catalog resolution and the
        # verification pass, which is also the cold warm-up. setup_s runs
        # from process start to the first timed pass, less the input
        # generation, the calibration probe and the output checks.
        from tracy_matdb_spark.catalog import load
        from tracy_matdb_spark.queries import load_all
        from tracy_matdb_spark.session import get_session

        run.registry = load_all()
        t = time.perf_counter()
        run.spark = get_session(f"perfbench-{args.workload}", cpus=cpus, extra_conf=extra_conf)
        session_start_s = time.perf_counter() - t
        tracer.bind(run.spark)
        jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
        resolves = []  # the first resolution, then relation-cache hits
        for _ in range(1 + WARM_RESOLVES if workload.tables else 0):
            t = time.perf_counter()
            load(run.spark, run.data_dir, workload.tables)
            resolves.append(time.perf_counter() - t)

        calibration, calib_s = {}, 0.0
        if traced:
            t = time.perf_counter()
            from bench import _calibration

            calibration = _calibration(run.spark, run.data_dir)
            calib_s = time.perf_counter() - t

        run.new_pass()
        cold = workload.run_pass(run, 0, collect=True)
        cold_ok = run.pass_ok
        run.samples.clear()
        setup_s = time.perf_counter() - T_START - inputs_s - calib_s - run.check_s

        # -- timed passes, closed loop
        passes = []
        steal0 = cpu_steal()
        t_timed = time.perf_counter()
        idx = 0
        while (
            len(passes) < MIN_PASSES
            or time.perf_counter() - t_timed < args.seconds
        ):
            idx += 1
            run.new_pass()
            tracer.enabled = traced and idx % 2 == 1
            first_span = len(tracer.spans)
            cpu0, jit0 = tree_cpu_s(), jit_cpu_s(jvm_pid)
            res = workload.run_pass(run, idx, collect=False)
            res["jit_s"] = jit_cpu_s(jvm_pid) - jit0
            res["cpu_s"] = tree_cpu_s() - cpu0 - res["jit_s"]
            res["traced"] = tracer.enabled
            res["ok"] = run.pass_ok
            res["spans"] = tracer.spans[first_span:] if tracer.enabled else []
            passes.append(res)
        tracer.enabled = False
        timed_s = time.perf_counter() - t_timed
        # share of the timed window the hypervisor gave other tenants
        steal_share = (cpu_steal() - steal0) / (timed_s * cpus)

        report.update({
            "setup_s": setup_s,
            "session_start_s": session_start_s,
            "check_s": run.check_s,
            "inputs_s": inputs_s,
            "cold_pass_s": cold["span"]["dur"],
            "cold_pass_ok": cold_ok,
            "passes": [
                {k: p[k] for k in ("cpu_s", "jit_s", "ok", "traced")} | {"s": p["span"]["dur"]}
                for p in passes
            ],
            "op_samples_s": {k: v for k, v in run.samples.items() if k not in run.broken},
            "broken": sorted(run.broken),
            "cpu_steal_share": steal_share,
            "calibration": calibration,
        })
        ok_passes = [p for p in passes if p["ok"] and not p["traced"]]
        if traced:
            metrics = layer_metrics(
                run, workload, passes, cold, session_start_s, resolves, calibration,
                layer_units(CORPUS_OPS, PIPELINE_METHODS), jvm_pid,
            )
        else:
            # with no pass free of failures there is no sample to publish:
            # -1 marks the metric broken, as bench.py does, and correct is false
            metrics = {
                "setup_s": setup_s,
                "pass_cpu_s": median([p["cpu_s"] for p in ok_passes]) if ok_passes else -1.0,
            }
        if traced:
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        with open(os.path.join(out_dir, f"report-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump({**report, "metrics": metrics}, f, indent=1, default=str)
        print(json.dumps(report, default=str))
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": want[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(run, workload, passes, cold, session_start_s, resolves, calibration, units, jvm_pid):
    """Per-layer metrics: medians over the traced timed passes; layers a
    workload does not exercise read 0."""
    m = {k: 0.0 for k in units}
    traced = [p for p in passes if p["traced"] and p["ok"]]
    untraced = [p for p in passes if not p["traced"] and p["ok"]]
    if not traced or not untraced:
        traced = traced or [p for p in passes if p["traced"]]
        untraced = untraced or [p for p in passes if not p["traced"]]
    m["session.start_s"] = session_start_s
    m["setup.cold_pass_s"] = cold["span"]["dur"]
    if workload.tables:
        m["catalog.resolve_s"] = resolves[0]
        m["catalog.resolve_warm_s"] = median(resolves[1:])
    m["trace.overhead_s"] = median([p["span"]["dur"] for p in traced]) - median(
        [p["span"]["dur"] for p in untraced]
    )
    m["box.calib_s"] = calibration.get("calib_s", -1.0)
    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes", "failed_tasks"):
        m[f"spark.{key}"] = median(
            [sum(s.get(key, 0.0) for s in p["spans"] if "stages" in s) for p in traced]
        )
    for op in workload.ops:
        recs = [s for p in traced for s in p["spans"] if s["name"] == f"queries.{op}" and "build_s" in s]
        if recs and f"queries.{op}" not in run.broken:
            for key in ("build_s", "exec_s", "tasks", "shuffle_write_bytes"):
                m[f"queries.{op}.{key}"] = median([r[key] for r in recs])
    for key in {k for p in traced for k in p["layer"]}:
        m[key] = median([p["layer"][key] for p in traced])
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm = next(line for line in f if line.startswith("VmHWM:"))
    m["jvm.peak_rss_mb"] = int(hwm.split()[1]) / 1024
    m["driver.peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return m


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {pid for pid, (ppid, _) in stats.items() if ppid in frontier} - tree
    return sum(stats[p][1] for p in tree if p in stats) / tick


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name, fields = stat[stat.index("(") + 1 :].rsplit(")", 1)
        if "CompilerThre" in name:  # "C1 CompilerThre", "C2 CompilerThre"
            total += sum(int(x) for x in fields.split()[11:13])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_steal() -> float:
    """Seconds of CPU time stolen by the hypervisor since boot, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (its Python workers exit with it)."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
