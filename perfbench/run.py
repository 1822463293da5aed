"""Engine benchmark: one closed-loop client driving a seeded workload
through the engine's public entry points.

    python3 perfbench/run.py --workload motor_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (the package is imported from there). The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The lines before it are a readable report of every metric with its unit.
See ``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "metadata_driven_data_pipeline_spark"
SETUPS = 7  # in-process session re-builds that setup_s averages


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- process-tree memory ------------------------------------------------------


def _proc_kb(pid: int, name: str, key: str) -> int:
    """A ``key:  <n> kB`` field of ``/proc/<pid>/<name>``; 0 if gone."""
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _python_workers(jvm_pid: int) -> list[int]:
    """Python processes under the JVM (the pyspark daemon and its forks)."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        comm = head.split("(", 1)[1]
        children.setdefault(int(rest.split()[1]), []).append((int(d), comm))
    out, stack = [], [jvm_pid]
    while stack:
        for pid, comm in children.get(stack.pop(), []):
            if comm.startswith("python"):
                out.append(pid)
            stack.append(pid)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until processes that are not our children have exited (the
    Python workers end when the JVM that spawned them does)."""

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    for pid in pids:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


class MemorySampler(threading.Thread):
    """Peak memory of the driver process tree: the kernel's resident
    high-water mark of this process and of the JVM, plus the peak sampled
    (every 0.2 s) proportional set size of the Python workers. Summing
    plain RSS over the tree instead counts the short-lived helpers the JVM
    spawns (``bash``, ``chmod``) at up to the JVM's own size."""

    def __init__(self):
        super().__init__(daemon=True)
        self.jvm_pid = 0
        self.workers_peak_kb = 0
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.is_set():
            if self.jvm_pid:
                kb = sum(
                    _proc_kb(p, "smaps_rollup", "Pss") for p in _python_workers(self.jvm_pid)
                )
                self.workers_peak_kb = max(self.workers_peak_kb, kb)
            self._stop_event.wait(0.2)

    def stop(self) -> float:
        """Stop sampling (while the JVM is still up); peak in MiB."""
        self._stop_event.set()
        self.join(timeout=5)
        kb = _proc_kb(os.getpid(), "status", "VmHWM") + self.workers_peak_kb
        if self.jvm_pid:
            kb += _proc_kb(self.jvm_pid, "status", "VmHWM")
        return kb / 1024


# -- statistics ----------------------------------------------------------------


def p50(xs):
    return statistics.median(xs)


def trimmed_mean(xs):
    """Mean without the lowest and highest tenth (at least one sample at
    each end once there are five or more): a young-generation collection
    that lands in one operation does not move the figure, and the mean
    of tick-resolution CPU times does not snap to a tick as a median
    would."""
    xs = sorted(xs)
    k = max(1, round(len(xs) / 10)) if len(xs) >= 5 else 0
    return statistics.mean(xs[k:len(xs) - k])


def tail(xs):
    """Upper quartile by inclusive interpolation. A run holds 5-16 samples
    of a kind, too few for a percentile with ten samples beyond it; the
    quartile keeps two or more beyond it, so one stalled sample does not
    set the figure."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")[-1]


# -- session -------------------------------------------------------------------


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: resident memory then moves with what
        # the run holds off-heap and in Python, not with heap-growth timing
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
            # a fixed set of JIT compiler threads, which the CPU clock
            # leaves out (workloads.CpuClock)
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # keep every job in the status store for span attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def quiet(spark) -> None:
    spark.sparkContext.setLogLevel("ERROR")
    # consolidation probes for existing output and catches the miss; the
    # listener bus still logs the analysis error with a full trace
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.util.ExecutionListenerBus",
        jvm.org.apache.logging.log4j.Level.OFF,
    )


def build_session(cpus: int, work: str, wl_cls, tracer):
    """get_spark + metadata load + Engine construction: one set-up."""
    from contextlib import nullcontext

    from metadata_driven_data_pipeline_spark import session
    from metadata_driven_data_pipeline_spark.engine import Engine

    import workloads

    span = tracer.span("bench.setup") if tracer else nullcontext()
    with span:
        spark = session.get_spark(
            master=f"local[{cpus}]", shuffle_partitions=cpus,
            extra_conf=spark_conf(work),
        )
        md = workloads.load_metadata(wl_cls.metadata_file, os.path.join(work, "setup"))
        Engine(spark, md, run_id="setup", pipeline_name=wl_cls.name)
    return spark


# -- main ----------------------------------------------------------------------


def bench(args, work: str) -> tuple[bool, int, int, dict, list[str]]:
    import workloads
    from spans import Tracer, summarize

    wl_cls = workloads.WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
        tracer.active = True

    sampler = MemorySampler()
    sampler.start()
    t0 = time.perf_counter()
    spark = build_session(cpus, work, wl_cls, tracer)
    setup_cold = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    sampler.jvm_pid = gateway.proc.pid
    quiet(spark)

    res = workloads.Results()
    wl = wl_cls(spark, work, args.seed, tracer, res)
    k, measured = 0, 0.0
    try:
        wl.first_run()
        start = time.perf_counter()
        durations = []
        while True:
            e0 = time.perf_counter()
            wl.episode(k)
            durations.append(time.perf_counter() - e0)
            k += 1
            measured = time.perf_counter() - start
            # start another episode only if it should end within the budget;
            # a traced run needs a traced and an untraced run cycle
            if measured + statistics.mean(durations) > args.seconds and (
                not tracer or (res.traced_run_s and res.untraced_run_s)
            ):
                break
        if tracer:
            tracer.active = False
        wl.finish()
        if tracer:
            tracer.attribute_spark(spark)
            tracer.active = True
        # re-setups last, in a JVM the workload has warmed: at the start
        # they would race the JIT compiling the cold session's code
        setups = []
        for _ in range(SETUPS):
            spark.stop()
            c0 = wl.cpu()
            spark = build_session(cpus, work, wl_cls, tracer)
            setups.append(wl.cpu() - c0)
    except Exception as e:  # a failed operation fails the run, reported below
        import traceback

        traceback.print_exc()
        res.check(False, f"{type(e).__name__}: {e}")
        return False, res.attempted, res.failed, {}, [
            f"workload {args.workload} seed {args.seed}: FAILED: {f}" for f in res.failures
        ]
    finally:
        peak_mb = sampler.stop()
        workers = _python_workers(gateway.proc.pid)
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        _wait_gone(workers, timeout=30)

    report = [
        f"workload {args.workload} seed {args.seed}: {k} episodes in {measured:.1f} s, "
        f"local[{cpus}], planted {json.dumps(res.planted)}",
    ]
    runs = res.run_s
    # the result line: the CPU cost of set-up and of the client's
    # operations; wall times follow the host (see README) and are report
    # lines
    e2e = {
        "setup_s": (trimmed_mean(setups), "s"),
        "run_cpu_s": (trimmed_mean(res.run_cpu_s), "s"),
        "read_cpu_s": (trimmed_mean(res.read_cpu_s), "s"),
        "stored_bytes_per_user_byte": (p50(res.stored), "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    extra = {
        "first_run_s": (res.first_run_s, "s"),
        "first_run_cpu_s": (res.first_run_cpu_s, "s"),
        "run_s_p50": (p50(runs), "s"),
        "run_s_tail": (tail(runs), "s"),
        "rows_per_s": (p50(res.run_rates), "rows/s"),
        "read_s_p50": (p50(res.read_s), "s"),
        "read_s_tail": (tail(res.read_s), "s"),
        "setup_cold_s": (setup_cold, "s"),
        "error_rate": (res.failed / res.attempted, "ratio"),
    }
    if res.noop_s:
        extra["noop_rerun_s"] = (p50(res.noop_s), "s")
    if res.commit_s:
        extra["commit_s_p50"] = (p50(res.commit_s), "s")
        extra["commit_s_tail"] = (tail(res.commit_s), "s")
    counts = (
        f"runs n={len(runs)}, reads n={len(res.read_s)}, setups n={len(setups)}, "
        f"tail = p75, rows per run {res.rows / len(runs):.0f}"
    )
    report.append(counts)
    report.append("  run_s samples: " + " ".join(f"{x:.3f}" for x in runs))
    report.append("  run_cpu_s samples: " + " ".join(f"{x:.2f}" for x in res.run_cpu_s))
    report.append("  read_cpu_s samples: " + " ".join(f"{x:.2f}" for x in res.read_cpu_s))
    for name, (v, unit) in {**e2e, **extra}.items():
        report.append(f"  {name:28s} {v:.6g} {unit}")
    for f in res.failures[:20]:
        report.append(f"  FAILED: {f}")

    metrics = {k2: {"value": v, "unit": u} for k2, (v, u) in e2e.items()}
    if tracer:
        out = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.json")
        tracer.dump(out)
        layers = layer_metrics(summarize(tracer.spans), res)
        report.append(
            f"  span dump: {os.path.relpath(out, ROOT)} ({len(tracer.spans)} spans); "
            f"traced runs n={len(res.traced_run_s)}, untraced n={len(res.untraced_run_s)}"
        )
        for name, m in layers.items():
            report.append(f"  {name:36s} {m['value']:.6g} {m['unit']}")
        metrics = {name: layers[name] for name in LAYER_KEYS}
    return res.failed == 0, res.attempted, res.failed, metrics, report


# per-layer metrics printed on the result line of a traced run (their
# units and directions are listed in BENCHMARK.json); layer times that are
# zero on a workload that never enters the layer appear as shares of the
# traced run time here, and as seconds in the report lines
LAYER_KEYS = (
    "session.get_spark_s", "plans.compile_s",
    "sources.read_s", "sources.files_listed", "sources.discover_share",
    "operators.handlers_s", "operators.eager_jobs",
    "consolidate.s", "consolidate.jobs", "consolidate.rows_read",
    "consolidate.rows_read_per_new_row",
    "sinks.write_s", "sinks.rows_written", "sinks.files_written",
    "sinks.bytes_written", "sinks.jobs",
    "txlog.merge_share", "txlog.snapshot_load_share", "txlog.optimize_share",
    "txlog.files_rewritten_ratio", "txlog.bytes_written_per_user_byte",
    "txlog.log_entries", "txlog.scan_files_scanned_ratio",
    "engine.self_s", "manifest.write_share",
    "spark.task_s", "spark.jobs", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "trace.overhead_ratio",
)


def layer_metrics(s: dict, res) -> dict:
    """Per-layer metrics of the traced run cycles, per traced engine run;
    set-up layers as the median over the in-process re-builds."""
    runs = max(1.0, s.get("engine.runs", 0.0))
    run_time = s.get("engine.run_s", 0.0)

    def per_run(key):
        return s.get(key, 0.0) / runs

    def ratio(a, b):
        return a / b if b else 0.0

    def share(key):
        return ratio(s.get(key, 0.0), run_time)

    m = {
        "session.get_spark_s": (p50(s["setup_get_spark"][1:]), "s"),
        "plans.compile_s": (p50(s["setup_compile"][1:]), "s"),
        "sources.read_s": (per_run("sources.read_s"), "s"),
        "sources.discover_s": (per_run("sources.discover_s"), "s"),
        "sources.discover_share": (share("sources.discover_s"), "ratio"),
        "sources.files_listed": (per_run("sources.files_listed"), "count"),
        "operators.handlers_s": (per_run("operators.handlers_s"), "s"),
        "operators.eager_jobs": (per_run("operators.eager_jobs"), "count"),
        "consolidate.s": (per_run("consolidate.s"), "s"),
        "consolidate.jobs": (per_run("consolidate.jobs"), "count"),
        "consolidate.rows_read": (per_run("consolidate.rows_read"), "count"),
        "consolidate.rows_read_per_new_row": (
            ratio(s.get("consolidate.rows_read", 0), s.get("sinks.rows_written", 0)),
            "ratio"),
        "sinks.write_s": (per_run("sinks.write_s"), "s"),
        "sinks.rows_written": (per_run("sinks.rows_written"), "count"),
        "sinks.files_written": (per_run("sinks.files_written"), "count"),
        "sinks.bytes_written": (per_run("sinks.bytes_written"), "bytes"),
        "sinks.jobs": (per_run("sinks.jobs"), "count"),
        "txlog.merge_s": (per_run("txlog.merge_s"), "s"),
        "txlog.merge_share": (share("txlog.merge_s"), "ratio"),
        "txlog.snapshot_load_s": (per_run("txlog.snapshot_load_s"), "s"),
        "txlog.snapshot_load_share": (share("txlog.snapshot_load_s"), "ratio"),
        "txlog.optimize_s": (per_run("txlog.optimize_s"), "s"),
        "txlog.optimize_share": (share("txlog.optimize_s"), "ratio"),
        "txlog.files_rewritten_ratio": (
            ratio(s.get("txlog.files_rewritten", 0), s.get("txlog.live_files_before", 0)),
            "ratio"),
        "txlog.bytes_written_per_user_byte": (
            ratio(res.layer.get("txlog.bytes_written", 0), res.layer.get("txlog.user_bytes", 0)),
            "ratio"),
        "txlog.log_entries": (res.layer.get("txlog.log_entries", 0), "count"),
        "txlog.scan_files_scanned_ratio": (
            ratio(s.get("txlog.files_scanned", 0), s.get("txlog.files_total", 0)), "ratio"),
        "engine.self_s": (per_run("engine.self_s"), "s"),
        "manifest.write_s": (per_run("manifest.write_s"), "s"),
        "manifest.write_share": (share("manifest.write_s"), "ratio"),
        "spark.task_s": (per_run("spark.task_s"), "s"),
        "spark.jobs": (per_run("spark.jobs"), "count"),
        "spark.shuffle_write_bytes": (per_run("spark.shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (per_run("spark.spill_bytes"), "bytes"),
        "trace.overhead_ratio": (
            p50(res.traced_run_s) / p50(res.untraced_run_s) - 1.0, "ratio"),
    }
    for key in sorted(s):
        if key.startswith("operators.") and key.endswith("_s") and key not in m:
            m[key] = (per_run(key), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE} not found next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # the JVM, Python workers and temp files stay inside the checkout; set
    # before anything imports pyspark or resolves the temp dir
    os.environ.update(
        TMPDIR=f"{work}/tmp",
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"error: unknown workload {args.workload!r}; choose from "
                  f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        correct, attempted, failed, metrics, report = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(report))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
