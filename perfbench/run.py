"""Benchmark of the CDC batch pipeline: one workload per invocation.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload in turn

``--trace 0`` times whole operations and prints the end-to-end metrics;
``--trace 1`` runs the traced mode and prints the per-layer metrics. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name → value and unit). Lines before it repeat each metric
with its unit and record the host (cores used, 1-minute load average,
driver heap). All files go to a run directory under ``.perfbench_run/``
that is removed on exit; traced runs leave their spans in
``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
MAX_CORES = 4
PREP_REPS = 3
# warm-up: operations run, checked but untimed, until the median wall of
# the last WARMUP_WINDOW (a workload attribute) is within WARMUP_GAIN of the
# median of the window before — the JVM keeps compiling the program's hot
# paths for many operations after the first — or, after WARMUP_MIN_OPS, for
# at most WARMUP_CAP_S
WARMUP_GAIN = 0.03
WARMUP_MIN_OPS = 2
WARMUP_CAP_S = 15.0
WORKLOAD_NAMES = ("bulk_ingest", "verify_repair", "incremental_resume")

END_TO_END_UNITS = {
    "events_per_s": "events/s",
    "batch_s_p50": "s",
    "stored_bytes_per_event": "B/event",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "batch_s_last": "s",  # incremental_resume only
}

LAYER_UNITS = {
    "parse.self_s": "s", "parse.ok_ratio": "ratio",
    "parse.batch_us_p50": "us", "parse.batch_us_p99": "us",
    "enrich.self_s": "s", "enrich.ignored_rows": "count",
    "route.self_s": "s", "route.rows_per_event": "ratio",
    "route.shuffle_write_mb": "MB",
    "storage.write_s": "s", "storage.bytes_written_mb": "MB",
    "storage.files_per_commit": "count", "storage.file_size_skew": "ratio",
    "storage.scan_s": "s",
    "resume.input_records_per_new_event": "ratio",
    "aggregate.rollup_s": "s", "aggregate.rows_scanned_per_new_row": "ratio",
    "aggregate.final_state_s": "s",
    "pipeline.publish_s": "s", "pipeline.tail_s": "s",
    "pipeline.shuffle_mb": "MB", "pipeline.cpu_util": "ratio",
    "pipeline.gc_s": "s", "pipeline.speedup_1_to_n": "ratio",
    "verify.reconcile_s": "s", "verify.findings_ratio": "ratio",
    "repair.merge_s": "s",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def start_session(n_cores: int, run_dir: str):
    """local[n_cores] sized for a small host: heap below host RAM, every
    scratch file inside the run directory."""
    from binlog_processer_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        "perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=n_cores,
        extra_conf={
            "spark.local.dir": tmp,
            # a fixed, pre-touched heap: no heap growth or first-touch page
            # faults inside timed operations, and a resident size that does
            # not depend on when the collector grew the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # counters are read from the status store: keep every stage
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Session:
    """Owns the SparkSession so a workload can restart it at another
    parallelism (the local[1] baseline)."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None

    def start(self, n_cores: int):
        if self.spark is not None:
            self.spark.stop()
        self.spark = start_session(n_cores, self.run_dir)
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the JVM it ran in, and wait for it to end
        (its Python workers end with it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            # the JVM exits when its stdin closes
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


def warm_up(wl) -> list:
    """Warm-up operations (see WARMUP_GAIN); none for a workload without a
    WARMUP_WINDOW."""
    k = wl.WARMUP_WINDOW
    ops: list = []
    start = time.perf_counter()
    while k and (len(ops) < WARMUP_MIN_OPS
                 or time.perf_counter() - start < WARMUP_CAP_S):
        ops.extend(wl.run_unit())
        walls = [o.wall for o in ops]
        if (len(walls) >= 2 * k and statistics.median(walls[-k:])
                >= (1 - WARMUP_GAIN) * statistics.median(walls[-2 * k:-k])):
            break
    return ops


def measure(args, run_dir: str) -> tuple[dict, int, int]:
    import probes
    import workloads

    n_cores = cores()
    session = Session(run_dir)
    try:
        t0 = time.perf_counter()
        ctx = workloads.Ctx(session.start, n_cores, run_dir, args.seed)
        wl = workloads.WORKLOADS[args.workload](ctx)
        fixed_s = time.perf_counter() - t0
        attempted = failed = 0
        # set-up = session start + input preparation (median of PREP_REPS;
        # every repeat must serialize identical inputs) + the load
        preps, digests = [], set()
        for _ in range(PREP_REPS):
            t = time.perf_counter()
            digests.add(wl.prepare())
            preps.append(time.perf_counter() - t)
        t = time.perf_counter()
        ok = wl.load()
        warm = warm_up(wl)
        load_s = time.perf_counter() - t
        attempted += 2 + len(warm)
        failed += (len(digests) != 1) + (not ok) + sum(not o.ok for o in warm)
        setup_s = fixed_s + statistics.median(preps) + load_s

        units: list[list] = []
        deadline = time.perf_counter() + 2 * args.seconds + 60
        # traced mode: two untraced units, the last one the baseline
        n_units = 2 if args.trace else None
        with probes.PeakRss(ctx.counters.jvm_pid, ctx.counters.heap_bytes) as rss:
            while True:
                units.append(wl.run_unit())
                rss.cut()
                timed = sum(o.wall for u in units for o in u)
                if n_units is not None:
                    if len(units) >= n_units:
                        break
                elif timed >= args.seconds or time.perf_counter() > deadline:
                    break
        ops = [o for u in units for o in u]
        attempted += len(ops)
        failed += sum(not o.ok for o in ops)

        if args.trace:
            untraced = sum(o.wall for o in units[-1])
            tracer = probes.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                                   ctx.counters)
            # scan descriptions name every scanned path, so rows read can be
            # told apart by table
            ctx.spark.conf.set("spark.sql.maxMetadataStringLength", str(1 << 20))
            layers, ok = wl.trace(tracer, untraced)
            attempted += 1
            failed += not ok
            out = os.path.join(ROOT, ".perfbench_out",
                               f"trace-{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(out)
            print(f"spans written to {os.path.relpath(out, ROOT)}", file=sys.stderr)
            metrics = {k: (layers[k], LAYER_UNITS[k]) for k in LAYER_UNITS}
        else:
            walls = [o.wall for o in ops]
            unit_rates = [sum(o.events for o in u) / sum(o.wall for o in u) for u in units]
            e2e = {
                "events_per_s": statistics.median(unit_rates),
                "batch_s_p50": statistics.median(walls),
                "peak_rss_mb": statistics.median(rss.peaks) / (1024 * 1024),
                "setup_s": setup_s,
            }
            e2e.update(wl.end_to_end())
            metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
        host = {
            "cores": n_cores,
            "nproc": os.cpu_count(),
            "loadavg_1m": os.getloadavg()[0],
            "driver_heap": DRIVER_MEM,
            "samples": len(ops),
            "warmup_ops": len(warm),
            "setup_parts": f"session {fixed_s:.1f} s, prepare {statistics.median(preps):.1f} s, "
                           f"load {load_s - sum(o.wall for o in warm):.1f} s, "
                           f"warm-up {sum(o.wall for o in warm):.1f} s",
            "walls": [round(o.wall, 3) for o in ops],
            "failed_ratio": failed / attempted,
        }
        return {"metrics": metrics, "host": host}, attempted, failed
    finally:
        session.stop()


def run_one(args) -> int:
    sys.path[:0] = [ROOT, HERE]
    try:
        import binlog_processer_spark.plans.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    # the JVM and its Python workers inherit fd 1: point it at stderr while
    # they live, so nothing they print can follow the result line
    sys.stdout.flush()
    stdout_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        res, attempted, failed = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it
        sys.stdout.flush()
        os.dup2(stdout_fd, 1)
        os.close(stdout_fd)
    h = res["host"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} cores={h['cores']} "
          f"nproc={h['nproc']} loadavg_1m={h['loadavg_1m']:.2f} "
          f"driver_heap={h['driver_heap']} warmup_ops={h['warmup_ops']} "
          f"samples={h['samples']}")
    print(f"# set-up: {h['setup_parts']}")
    print(f"# operation walls (s): {h['walls']}")
    for name, (value, unit) in res["metrics"].items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} failed_ratio = {h['failed_ratio']:.6g} "
          f"({failed}/{attempted} operations)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; the per-workload lines pass through."""
    code = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write("".join(
            line + "\n" for line in proc.stdout.splitlines()[:-1]))
        code = code or proc.returncode
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM unwind normally, so the session stops and the run dir goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
