"""Engine benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload letter_index --seed 1 --seconds 15 --trace 0

Run from the repository root. The run starts one Spark session, builds the
seeded inputs ``SETUP_REPEATS`` times, computes the expected outputs apart
from the program, runs the workload's ``warmup_ops`` discarded operations,
then runs operations back to back -- each starts when the previous one has
finished and been checked -- until ``--seconds`` have passed. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``; the end-to-end metrics with ``--trace 0``, the per-layer
metrics (see ``layers.py``) with ``--trace 1``. Everything the run writes
stays under ``.perfbench_work/`` in the repository root and is removed
at the end; a traced run also leaves its spans in ``.perfbench_trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: Spark cores: below the machine's count, so the benchmark's own Python
#: process and the checks do not compete with every task slot
CORES = max(1, min(3, (os.cpu_count() or 2) - 1))
#: driver heap (local mode: driver and executors share this one JVM);
#: the package default of 24g assumes a far larger machine
DRIVER_MEM = "2g"
SETUP_REPEATS = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument(
        "--workload", required=True,
        choices=("letter_index", "index_update", "near_dup"),
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure(work: Path, trace: bool) -> None:
    """Environment for the JVM this process is about to start."""
    from tracing import NO_PERF_DATA, spark_conf_lines

    for sub in ("tmp", "conf", "spark-local", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    (work / "conf" / "spark-defaults.conf").write_text(
        "\n".join(spark_conf_lines(str(work), CORES, trace)) + "\n"
    )
    os.environ.update(
        SPARK_CONF_DIR=str(work / "conf"),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        # the launcher JVM that spark-submit starts before the driver
        SPARK_LAUNCHER_OPTS=NO_PERF_DATA,
        TMPDIR=str(work / "tmp"),
        PYTHONPATH=os.pathsep.join(
            [str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]
        ).rstrip(os.pathsep),
    )


def jvm_pid() -> int:
    """The driver JVM (spark-submit execs into it); the PySpark workers
    are its children."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args: argparse.Namespace, work: Path) -> dict:
    import tracing
    from workloads import WORKLOADS, tree_bytes

    from mapreduceindex_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    tracer = tracing.Tracer(spark) if args.trace else tracing.NullTracer()
    memo = tracing.MemoCounter() if args.trace else None
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, tracer)
        builds = []
        for r in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.build_inputs(str(work / f"inputs{r}"))
            builds.append(time.perf_counter() - t0)
        wl.expect()

        errors: list[str] = []
        op_times: list[float] = []
        out_bytes: list[int] = []
        failed = 0

        def one_op(i: int) -> float | None:
            out = str(work / "out" / f"op{i}")
            t0 = time.perf_counter()
            try:
                with tracer.span("op", i):
                    wl.op(i, out)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                shutil.rmtree(out, ignore_errors=True)
                return None
            dt = time.perf_counter() - t0
            bad = wl.check(i, out)
            if bad:
                errors.append(f"op {i}: {bad}")
            out_bytes.append(tree_bytes(out))
            shutil.rmtree(out)
            return dt

        tracer.phase = "warmup"
        t0 = time.perf_counter()
        warm = [one_op(i) for i in range(wl.warmup_ops)]
        warmup_s = time.perf_counter() - t0
        if None in warm:
            errors.append("a warm-up operation failed")
        tracer.phase = "op"
        attempted = 0
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds:
            dt = one_op(wl.warmup_ops + attempted)
            attempted += 1
            if dt is None:
                failed += 1
            else:
                op_times.append(dt)
        loop_s = time.perf_counter() - start

        for e in errors:
            print(f"CHECK FAILED {e}", file=sys.stderr)
        spark_pids = tracing.process_tree(jvm_pid())
        jvm_mb = tracing.peak_rss_mb(spark_pids[:1])
        print(
            f"{args.workload} seed={args.seed}: session {session_s:.2f}s, "
            f"input builds {[round(b, 2) for b in builds]}, warm-up ops "
            f"{[round(w or -1, 2) for w in warm]}, {attempted} ops "
            f"{[round(t, 2) for t in op_times]}, cores={CORES} "
            f"heap={DRIVER_MEM}, peak rss: JVM {jvm_mb:.0f} MB, "
            f"{len(spark_pids) - 1} child processes "
            f"{tracing.peak_rss_mb(spark_pids[1:]):.0f} MB",
            file=sys.stderr,
        )
        p50 = statistics.median(op_times) if op_times else float("nan")
        if args.trace:
            import layers

            probed = layers.measure(spark, wl, tracer, memo, work)
        else:
            metrics = {
                "setup_s": (session_s + statistics.median(builds) + warmup_s, "s"),
                "op_p50_s": (p50, "s"),
                "peak_rss_mb": (tracing.peak_rss_mb(spark_pids), "MB"),
                "output_mb": (statistics.median(out_bytes) / 1e6, "MB"),
            }
    finally:
        if memo is not None:
            memo.close()
        stop_spark(spark)
    if args.trace:
        metrics = layers.finish(
            probed, tracer, work, ROOT / ".perfbench_trace" /
            f"{args.workload}-seed{args.seed}.json", session_s=session_s,
            op_p50_s=p50, ops=attempted, loop_s=loop_s, cores=CORES,
        )
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "mapreduceindex_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no mapreduceindex_spark package under {ROOT}; run "
            "from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure(work, bool(args.trace))
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
