"""Benchmark entry point.

    python3 perfbench/run.py --workload search|loops --seed N --seconds S --trace 0|1

Starts one local Spark session (local[nproc]), stages the seeded inputs,
runs a warm pass, measures a closed loop for S seconds, checks every output
against DuckDB, and prints one JSON line last: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything it writes stays
under the checkout (.perfbench_work/ while running, .perfbench_out/ for
traces); it runs from any working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DRIVER_MEM = "3g"  # SPARK_GRAFT_DRIVER_MEM: well under a 15 GiB box
SETUP_REPEATS = 3
WORKLOAD_NAMES = ("search", "loops")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Point every scratch location of Python, the JVM and the program at
    `work`, and size the session. Must run before pyspark is imported."""
    for sub in ("tmp", "spark-local", "index"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TEAM126_INDEX_BASE"] = str(work / "index")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(work: Path):
    from pyspark.sql import SparkSession

    from team_126_spark.session import configure, cpu_count

    builder = (
        SparkSession.builder.master(f"local[{cpu_count()}]")
        .appName("perfbench")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    )
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    kids = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kid = int(stat.parent.name)
            kids += [kid, *_children(kid)]
    return kids


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and every process under it, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in tree:
        while Path(f"/proc/{pid}").exists() and time.time() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, signal.SIGKILL)


def remove_work(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()  # only when no other run is using it
    except OSError:
        pass


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    sys.path.insert(0, str(ROOT))
    try:
        import team_126_spark  # noqa: F401
        import tools.job_metrics  # noqa: F401
        import tools.oracle_check  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        remove_work(work)
        return 2

    from tools.job_metrics import _parse_bytes

    from perfbench import measure as M
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    spark = start_session(work)
    try:
        session_s = time.perf_counter() - t_start
        tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
        probe = tracing.SparkProbe(spark) if args.trace else None
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, probe)
        staging = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.stage(rep)
            staging.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(staging) + warm_s

        if args.trace:
            tracer.install()
        t0 = time.perf_counter()
        with M.RssSampler([os.getpid(), spark.sparkContext._gateway.proc.pid]) as rss:
            outcomes = wl.timed(args.seconds)
        timed_s = time.perf_counter() - t0
        if args.trace:
            tracer.uninstall()
        t0 = time.perf_counter()
        tally = wl.check(outcomes)
        check_s = time.perf_counter() - t0
        p50_ms, rate = wl.end_to_end(outcomes)
        record = (
            tracing.layer_record(tracer, probe, outcomes, wl.units(outcomes), _parse_bytes)
            if args.trace
            else None
        )
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        remove_work(work)
        stop_s = time.perf_counter() - t0

    tail = ""
    if args.workload == "search":
        p90 = M.tail_percentile([o.seconds * 1000.0 for o in outcomes], 90)
        tail = f"p90 {p90:.1f} ms, " if p90 is not None else "p90 withheld (<10 samples beyond it), "
    print(
        f"perfbench {args.workload} seed={args.seed}: {len(outcomes)} ops, "
        f"setup {setup_s:.2f}s (session {session_s:.2f}s, staging median of "
        f"{', '.join(f'{x:.2f}' for x in staging)}s, warm {warm_s:.2f}s), "
        f"p50 {p50_ms:.1f} ms, {tail}{rate:.3f} items/s, peak rss {rss.peak_mb:.0f} MiB, fail_frac {tally.fail_frac:.3f}, "
        f"cpu {rss.cpu_s:.1f}s, timed loop {timed_s:.1f}s, check {check_s:.2f}s, stop {stop_s:.1f}s, wall {time.perf_counter() - t_start:.1f}s"
    )
    for note in tally.notes:
        print(f"  FAILED {note}")

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "p50_ms": (p50_ms, "ms"),
            "items_per_s": (rate, "1/s"),
        }
    else:
        metrics = dict(record["metrics"])
        metrics["traced.p50_ms"] = (p50_ms, "ms")
        metrics["traced.items_per_s"] = (rate, "1/s")
        metrics["peak_rss_mb"] = (rss.peak_mb, "MiB")
        write_trace(args, tracer, record, outcomes, metrics)
    print(M.result_line(tally, metrics))
    return 0


def write_trace(args, tracer, record, outcomes, metrics) -> None:
    out = ROOT / ".perfbench_out" / f"trace-{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(exist_ok=True)
    codegen: dict[str, list] = {}
    for o in outcomes:
        codegen.setdefault(o.label, []).append(o.extra.get("codegen"))
    closure = metrics["queries.build_s"][0] + metrics["queries.action_s"][0]
    per_unit = record["op_s"] / record["units"]
    print(f"  trace: {len(tracer.spans)} spans -> {out.relative_to(ROOT)}")
    print(f"  build jobs per row: {record['build_jobs_per_row']}")
    print("  codegen (classes, ms) per operation: " + json.dumps(
        {k: [c for c in v if c] for k, v in codegen.items()}))
    print(f"  closure: queries.build_s+queries.action_s = {closure:.3f}s per unit; "
          f"driver.actions_s = {metrics['driver.actions_s'][0]:.3f}s; wall {per_unit:.3f}s per unit")
    print(f"  unreached by wrappers ({len(record['unreached'])}): {', '.join(record['unreached'])}")
    out.write_text(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "metrics": {k: v[0] for k, v in metrics.items()},
                "build_jobs_per_row": record["build_jobs_per_row"],
                "codegen_per_op": codegen,
                "unreached": record["unreached"],
                "jobs": record["jobs"],
                "spans": tracer.spans,
            },
            default=str,
        )
    )


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
