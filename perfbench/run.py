"""Meter-pipeline benchmark: one command for every workload.

    python3 perfbench/run.py --workload <ingest_backlog|live_day> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout: it imports the pipeline package from
there and keeps every file it writes (Spark scratch, JVM temp files,
generated inputs, tables) under ``.perfbench_work/`` in the checkout,
deleted on exit. Runs also leave their measured time (untraced) or
their spans (traced) in ``.perfbench_out/``.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``); the
line before it is the run record (seed, engine, versions, load average,
sample counts, checks). Exits 1 when an output check fails and 2 when
the package cannot be imported; neither prints a result. A traced run
reports the tracing overhead as traced minus untraced measured time: it
reads the untraced time that an earlier untraced run of the same
workload and seed in this checkout left in ``.perfbench_out/``, and
when there is none it makes that run first, in a child process.

Each workload is a fixed amount of closed-loop work; ``--seconds`` is
recorded, and the workload sizes are chosen so the measured part takes
about that long on 4 cores (see README.md in this directory).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time

CORES = 4
WORK_DIRNAME = ".perfbench_work"
OUT_DIRNAME = ".perfbench_out"
MISSING = 1e9  # value of a latency metric whose samples are mostly failures
END_TO_END = {
    "setup_s": "s",
    "ingest_rows_per_s": "rows/s",
    "ingest_batch_p50_s": "s",
    "tick_freshness_p50_s": "s",
    "mart_refresh_p50_s": "s",
    "lookup_p50_s": "s",
    "peak_old_gen_mb": "MB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work``. Must run before pyspark or the package is imported."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_GRAFT_CPUS": str(CORES),
        }
    )
    # the package's own driver memory setting, whatever the caller's shell says
    os.environ.pop("SPARK_DRIVER_MEMORY", None)


def start_session(work: str, trace: int):
    from smart_meter_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        # the status store keeps every job and stage of a run for the
        # traced harvest (it is kept with the UI off); untraced runs keep
        # Spark's default retention, so the heap holds what it would
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the Spark driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_memory_mb(spark) -> dict[str, float]:
    """Peak used MB of each heap pool of the Spark driver JVM, and its
    peak resident memory (``VmHWM``)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    out = {
        str(pool.getName()): pool.getPeakUsage().getUsed() / 2**20
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP"
    }
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                out["VmHWM"] = int(line.split()[1]) / 1024.0
    return out


def old_gen_mb(memory: dict[str, float]) -> float:
    """Peak of the old-generation pool: what the program kept or promoted.
    The young pools' peaks follow the collector's sizing of them, and
    resident memory follows heap expansion, from run to run."""
    return sum(v for k, v in memory.items() if "Old Gen" in k or "Tenured" in k)


def make_recorder():
    from smart_meter_data_pipeline_spark.streaming.ingest_stream import ProgressRecorder

    class Recorder(ProgressRecorder):
        """``ProgressRecorder`` that also keeps each batch's trigger
        start time, to date when a batch's rows became queryable."""

        def onQueryProgress(self, event) -> None:  # noqa: N802
            super().onQueryProgress(event)
            self.progress[-1]["timestamp"] = event.progress.timestamp

    return Recorder()


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies (user … steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def median_of(samples: list[float]) -> float:
    if not samples:
        return MISSING
    m = statistics.median(samples)
    return MISSING if math.isinf(m) else m


def untraced_record(root: str, args: argparse.Namespace) -> str:
    return os.path.join(root, OUT_DIRNAME, f"{args.workload}-seed{args.seed}-untraced.json")


def untraced_seconds(root: str, args: argparse.Namespace) -> float | None:
    """Measured seconds of the same workload and seed run untraced: from
    the record an earlier untraced run left, else from such a run made
    now in a child process (None when that run fails)."""
    import subprocess

    with contextlib.suppress(OSError, ValueError, KeyError):
        with open(untraced_record(root, args)) as fh:
            return float(json.load(fh)["measured_s"])
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        print(f"perfbench: untraced run exited {p.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-2])["run_record"]["measured_s"]


def run(args: argparse.Namespace, root: str, work: str, untraced_s: float | None) -> int:
    from tracing import NullTracer, Tracer, manifest_counts, unit
    from workloads import WORKLOADS, Ctx, Ledger

    import pyspark

    setup, body, check = WORKLOADS[args.workload]
    load_start = os.getloadavg()[0]
    t0 = time.perf_counter()
    spark = start_session(work, args.trace)
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        if args.trace:
            tracer.install()
        recorder = make_recorder()
        spark.streams.addListener(recorder)
        ctx = Ctx(spark, work, args.seed, tracer, recorder, Ledger(tracer))
        state = setup(ctx)
        setup_s = time.perf_counter() - t0

        if args.trace:
            tracer.counters.clear()
        w0 = time.time()
        cpu0 = cpu_times()
        body(ctx, state)
        measured_s = time.time() - w0
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        if args.trace:
            tracer.window = (w0, w0 + measured_s)
        memory = jvm_memory_mb(spark)
        c0 = time.perf_counter()
        check(ctx, state)
        check_s = time.perf_counter() - c0
        led = ctx.ledger
        attempted = sum(led.attempted.values())
        failed = sum(led.failed.values())
        e2e = {
            "setup_s": setup_s,
            "ingest_rows_per_s": median_of(led.samples.get("ingest_rows_per_s", [])),
            "ingest_batch_p50_s": median_of(led.samples.get("ingest_batch_s", [])),
            "tick_freshness_p50_s": median_of(led.samples.get("tick_freshness_s", [])),
            "mart_refresh_p50_s": median_of(led.samples.get("mart_refresh_s", [])),
            "lookup_p50_s": median_of(led.samples.get("lookup_s", [])),
            "peak_old_gen_mb": old_gen_mb(memory),
        }
        for name, value in e2e.items():
            if value == MISSING:
                led.check(f"{name} measured", False, "most samples failed")
        if args.trace:
            metrics = tracer.metrics(
                state.get("progress", []),
                {
                    "session.start_s": session_s,
                    "failed_op_share": failed / attempted if attempted else 0.0,
                    "trace.untraced_s": untraced_s,
                    "trace.overhead_s": measured_s - untraced_s,
                    **manifest_counts(ctx.path("fact")),
                },
            )
            out_dir = os.path.join(root, OUT_DIRNAME)
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
            units = {k: unit(k) for k in metrics}
        else:
            metrics = e2e
            units = END_TO_END
        correct = all(ok for _, ok, _ in led.checks)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds_arg": args.seconds,
            "trace": args.trace,
            "master": f"local[{CORES}]",
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "load1_start": load_start,
            "load1_end": os.getloadavg()[0],
            "driver_memory_mb": memory,
            "session_s": session_s,
            "setup_s": setup_s,
            "setup_phases": ctx.phases,
            "measured_s": measured_s,
            "check_s": check_s,
            # share of host CPU time stolen by the hypervisor while measuring
            "steal_share": cpu[7] / sum(cpu) if sum(cpu) else 0.0,
            "tail_percentile": None,
            "samples": {k: [round(x, 4) for x in v] for k, v in led.samples.items()},
            "attempted": dict(led.attempted),
            "failed": dict(led.failed),
            "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in led.checks],
        }
        for n, ok, d in led.checks:
            if not ok:
                print(f"perfbench: check failed: {n}: {d}", file=sys.stderr)
        print(json.dumps({"run_record": record}))
        if not correct:
            return 1
        if not args.trace:
            os.makedirs(os.path.join(root, OUT_DIRNAME), exist_ok=True)
            with open(untraced_record(root, args), "w") as fh:
                json.dump({"measured_s": measured_s}, fh)
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {
                        k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()
                    },
                }
            )
        )
        return 0
    finally:
        stop_session(spark)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("smart_meter_data_pipeline_spark") is None:
        print(f"perfbench: no pipeline package under {root}", file=sys.stderr)
        return 2
    untraced_s = None
    if args.trace:
        untraced_s = untraced_seconds(root, args)
        if untraced_s is None:
            return 1
    work_root = os.path.join(root, WORK_DIRNAME)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        return run(args, root, work, untraced_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)


if __name__ == "__main__":
    sys.exit(main())
