"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rpm_small --seed 1 --seconds 10 --trace 0

Prints a host/noise record, every metric by name with its unit, the
correctness verdict, and as the last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics of an untraced region. ``--trace 1``
runs the same region untraced and then traced, and reports the
per-layer metrics of the traced one. Run from the repository root;
everything the run writes lands under ``.perfbench_run/``."""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

# name -> unit; BENCHMARK.json lists the same names and units.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "first_result_s": "s",
    "driver_peak_rss_mb": "MB",
    "ok_share": "share",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "rpm.pickle_s": "s",
    "rpm.input_mb": "MB",
    "rpm.to_jvm_s": "s",
    "rpm.execute_s": "s",
    "rpm.materialize_s": "s",
    "rpm.result_mb": "MB",
    "driver.cpu_s": "s",
    "driver.py_gc_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.max_task_share": "share",
    "boundary.py_rows_out": "count",
    "boundary.py_sent_mb": "MB",
    "boundary.py_recv_mb": "MB",
    "logs.frames_decoded": "count",
    "logs.decode_s": "s",
    "logs.stdout_expected": "count",
    "logs.stdout_lost": "count",
    "logs.stdout_dup": "count",
    "jobs.submit_s": "s",
    "jobs.journal_payload_mb": "MB",
    "jobs.runner_spawn_s": "s",
    "jobs.runner_boot_s": "s",
    "jobs.runner_job_s": "s",
    "jobs.result_wait_s": "s",
    "jobs.fetch_s": "s",
    "jobs.journal_peak_mb": "MB",
    "jobs.journal_peak_files": "count",
    "plans.build_s": "s",
    "plans.action_s": "s",
    "catalyst.plan_s": "s",
    "codegen.compile_s": "s",
    "host.cores": "count",
    "host.slots": "count",
    "host.load1": "load",
    "host.steal_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}
# per-layer time -> the span it totals (self time where the span's
# children are other layers' calls)
SPAN_TOTALS = {
    "rpm.pickle_s": "rpm.pickle",
    "rpm.to_jvm_s": "rpm.to_jvm",
    "rpm.execute_s": "rpm.execute",
    "rpm.materialize_s": "rpm.materialize",
    "logs.decode_s": "logs.decode",
    "jobs.submit_s": "jobs.submit",
    "jobs.fetch_s": "jobs.fetch",
    "plans.build_s": "plans.build",
    "plans.action_s": "plans.action",
}
SPAN_SELF = {"jobs.result_wait_s": "jobs.result_wait"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--workload", required=True,
        choices=["rpm_small", "rpm_stream", "rpm_detach", "df_queries"],
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_environment(slots: int) -> None:
    """Point every scratch location of Spark, the JVM and the detached
    runners into RUN_DIR; must run before pyspark is imported."""
    for sub in ("spark-local", "tmp", "warehouse", "journal"):
        path = os.path.join(RUN_DIR, sub)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
    tmp = os.path.join(RUN_DIR, "tmp")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(slots),
            "SPARK_GRAFT_DRIVER_MEM": "4g",
            "SPARK_GRAFT_RUNNER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(RUN_DIR, "spark-local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(RUN_DIR, "warehouse"),
            "TMPDIR": tmp,
            # parsed like a java @argfile, so a quoted path may hold spaces
            "JDK_JAVA_OPTIONS": f'"-Djava.io.tmpdir={tmp}" -XX:-UsePerfData',
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
        }
    )
    tempfile.tempdir = tmp


def start_session(slots: int):
    from burla_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.burla.jobJournalDir": os.path.join(RUN_DIR, "journal"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and every Python worker to exit."""
    from pyspark import SparkContext

    from perfbench import procs

    children = procs.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
    procs.wait_gone(children, timeout_s=60.0)


class PyGcTimer:
    """Driver-side Python GC pause time, via gc.callbacks."""

    def __init__(self) -> None:
        self.total = 0.0
        self._t0 = 0.0

    def __call__(self, phase, info) -> None:
        if phase == "start":
            self._t0 = time.perf_counter()
        else:
            self.total += time.perf_counter() - self._t0

    def __enter__(self):
        gc.callbacks.append(self)
        return self

    def __exit__(self, *exc) -> None:
        gc.callbacks.remove(self)


def traced_region(wl, spark, seed, n_jobs, spans_path):
    """The same region again with every layer call wrapped in a span
    and Spark's status store read after each operation."""
    from perfbench import host, workloads
    from perfbench.sparkstats import MB, SparkStats
    from perfbench.trace import Tracer, instrument

    tracer = Tracer()
    stats = SparkStats(spark)
    patches = instrument(tracer, spark) if wl.rpm_layers else None
    compile0 = stats.codegen_compile_s()
    steal0 = host.steal_seconds()
    try:
        with PyGcTimer() as gc_timer:
            region = workloads.run_region(
                wl, workloads.Bench(spark, seed, tracer, stats), n_jobs
            )
    finally:
        if patches is not None:
            patches.restore()
    layer = dict(region.layer)
    totals, selfs = tracer.totals(), tracer.self_times()
    for metric, span in SPAN_TOTALS.items():
        layer[metric] = totals.get(span, 0.0)
    for metric, span in SPAN_SELF.items():
        layer[metric] = selfs.get(span, 0.0)
    layer["rpm.input_mb"] = tracer.counters["rpm.input_bytes"] / MB
    layer["rpm.result_mb"] = tracer.counters["rpm.result_bytes"] / MB
    layer["logs.frames_decoded"] = tracer.counters["logs.frames_decoded"]
    layer["driver.cpu_s"] = region.cpu_s
    layer["driver.py_gc_s"] = gc_timer.total
    layer["spark.max_task_share"] = (
        statistics.median(region.task_shares) if region.task_shares else 0.0
    )
    layer["codegen.compile_s"] = stats.codegen_compile_s() - compile0
    layer["host.steal_s"] = host.steal_seconds() - steal0
    layer["trace.wall_s"] = sum(region.op_walls)
    layer["trace.unaccounted_s"] = selfs.get(wl.op_span, 0.0)
    tracer.write(spans_path)
    return region, layer


def untraced_region(wl, spark, seed, n_jobs):
    """The timed region with nothing wrapped; at most one job in four
    is run again under steal (none of a one-job region, whose rerun
    would double the run). Returns it with the host's load average
    before it, the CPU seconds stolen from the host during it and their
    share of the CPU time the host asked for."""
    from perfbench import host, workloads

    load1, cpu0 = os.getloadavg()[0], host.cpu_times()
    region = workloads.run_region(
        wl, workloads.Bench(spark, seed), n_jobs, retries=n_jobs // 4
    )
    cpu1 = host.cpu_times()
    return region, load1, cpu1[1] - cpu0[1], host.stolen_share(cpu0, cpu1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import host, stats, workloads

    slots = len(os.sched_getaffinity(0))
    prepare_environment(slots)
    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    spark = start_session(slots)
    get_spark_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        wl.setup(workloads.Bench(spark, args.seed))
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START
        n_jobs = wl.jobs_for(args.seconds)
        plain, load1, steal_s, steal_share = untraced_region(wl, spark, args.seed, n_jobs)
        regions = [plain]
        if args.trace:
            spans_path = os.path.join(RUN_DIR, f"spans-{wl.name}-seed{args.seed}.json")
            traced, layer = traced_region(wl, spark, args.seed, n_jobs, spans_path)
            regions.append(traced)
    finally:
        stop_session(spark)

    attempted = sum(r.attempted for r in regions)
    failed = sum(r.failed for r in regions)
    print(
        f"run: workload={wl.name} seed={args.seed} jobs={n_jobs} slots={slots} "
        f"master=local[{slots}] sf_dir={getattr(wl, 'sf_dir', '-')}"
    )
    print(
        f"host: cores={os.cpu_count()} slots={slots} load1={load1:.2f} "
        f"steal_s={steal_s:.3f} steal_share={steal_share:.4f} retried={plain.retried} "
        "(the untraced region)"
    )
    walls = stats.summarize(plain.op_walls)
    print(
        f"ops: {json.dumps({k: round(v, 4) for k, v in walls.items()})} "
        f"walls={[round(w, 3) for w in plain.op_walls[:24]]} (per-operation wall, s)"
    )
    print(f"stolen: {[round(x, 3) for x in plain.stolen[:24]]} (share per kept job)")
    if wl.name == "rpm_stream":
        print(f"first: {[round(f, 3) for f in plain.first_s[:24]]} (call to first result, s)")
    print(f"setup (s): get_spark={get_spark_s:.3f} warmup={warmup_s:.3f} total={setup_s:.3f}")
    if "logs.stdout_expected" in plain.layer:
        print(
            "stdout: expected={:.0f} lost={:.0f} dup={:.0f} (untraced region)".format(
                plain.layer["logs.stdout_expected"],
                plain.layer["logs.stdout_lost"],
                plain.layer["logs.stdout_dup"],
            )
        )
    for r in regions:
        for err in r.errors[:5]:
            print(f"error: {err}", file=sys.stderr)

    if args.trace:
        layer.update(
            {
                "session.get_spark_s": get_spark_s,
                "session.warmup_s": warmup_s,
                "host.cores": os.cpu_count(),
                "host.slots": slots,
                "host.load1": load1,
                "trace.untraced_wall_s": sum(plain.op_walls),
                "trace.overhead_s": layer["trace.wall_s"] - sum(plain.op_walls),
            }
        )
        if wl.rpm_layers:
            parts = ("rpm.pickle_s", "rpm.to_jvm_s", "rpm.execute_s", "rpm.materialize_s")
            print(
                "blocking path (s): ops={:.3f} {} unaccounted={:.3f}".format(
                    layer["trace.wall_s"],
                    " ".join(f"{p.split('.')[1][:-2]}={layer[p]:.3f}" for p in parts),
                    layer["trace.unaccounted_s"],
                )
            )
        values = {name: float(layer.get(name, 0.0)) for name in PER_LAYER}
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": sum(plain.op_walls),
            "first_result_s": wl.first_result(plain.first_s) if plain.first_s else 0.0,
            "driver_peak_rss_mb": plain.peak_rss_mb,
            "ok_share": 1.0 - plain.failed / plain.attempted if plain.attempted else 0.0,
        }
        units = END_TO_END
    for name, value in values.items():
        print(f"metric {name} {value:.6g} {units[name]}")
    correct = failed == 0 and attempted > 0
    print(f"correct: {str(correct).lower()} (attempted {attempted}, failed {failed})")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
