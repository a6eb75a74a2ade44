"""Benchmark of the ingestion pipeline and the query engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload of ``workloads.WORKLOADS`` in this process, on
``local[<cores>]``, one client in a closed loop, and prints the
configuration on lines starting with ``#`` followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the per-layer ones, from spans recorded around each layer's entry points.

Inputs are read from ``$SPARK_GRAFT_SF_ROOT`` (default ``~/testdata``,
which holds ``sf0.01`` and ``sf0.1``). Everything the run writes,
Spark's local directories included, stays under ``.perfbench_work/`` in
the checkout and is removed at the end.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
)


def _confine(work: Path) -> None:
    """Point every temporary directory of Python, Spark and the JVM into
    ``work`` before the JVM starts, so the run writes nothing outside."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )
    import tempfile

    tempfile.tempdir = str(tmp)


def _session(cores: int, work: Path):
    from metadata_ingestion_poc_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM, which exits once its stdin closes;
    the Python workers are the JVM's children and end with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(workload_name: str, seed: int, seconds: int, trace: bool,
        work: Path) -> dict:
    from perfbench import layers, metrics
    from perfbench.tracing import Tracer
    from perfbench.workloads import SF_ROOT, WORKLOADS, Context

    workload = WORKLOADS[workload_name]
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    t = time.perf_counter()
    spark = _session(cores, work)
    get_spark_s = time.perf_counter() - t
    try:
        from metadata_ingestion_poc_spark.writer import _delta_available

        print(
            f"# workload={workload_name} seed={seed} seconds={seconds} "
            f"trace={int(trace)} cores={cores} spark={spark.version} "
            f"delta={_delta_available(spark)}",
            flush=True,
        )
        tracer = None
        if trace:
            tracer = Tracer(spark)
            layers.instrument(tracer)
        ctx = Context(spark, tracer, seed, seconds, work, SF_ROOT)
        workload.run(ctx)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        peak_rss = metrics.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        _stop(spark)

    ops = [op.seconds for op in ctx.ops if op.kind == "op"]
    reads = [op.seconds for op in ctx.ops if op.kind == "read"]
    problems = list(ctx.problems)
    if trace:
        fired = {s.name for s in tracer.spans}
        silent = [f for f in workload.operators if f"operators.{f}" not in fired]
        if silent:
            problems.append(f"operator spans never fired: {silent}")
    for op in ctx.ops:
        print(f"# {op.kind} {op.name} {op.seconds:.3f}", file=sys.stderr)
        if op.error:
            print(f"# FAILED {op.error}", file=sys.stderr)
    for problem in problems:
        print(f"# PROBLEM {problem}", file=sys.stderr)
    failed = sum(op.error is not None for op in ctx.ops)
    if problems:
        failed = max(failed, 1)
    tail_s, tail_pct = metrics.tail(ops)
    e2e = {
        "setup_s": ctx.first_op_at - T0,
        "wall_s": sum(ops) + sum(reads),
        "op_p50_s": metrics.median(ops),
        "op_tail_s": tail_s,
    }
    print(
        f"# wall_s={e2e['wall_s']:.4f} ops={len(ops)} tail=p{tail_pct:.1f} "
        f"reads={len(reads)} hub_read_p50_s={metrics.median(reads):.4f} "
        f"ingest_rows_per_s={ctx.extra.get('ingest_rows_per_s', 0):.1f} "
        f"hub_bytes_per_row={ctx.extra.get('hub_bytes_per_row', 0):.2f} "
        f"peak_rss_mb={peak_rss:.1f}",
        flush=True,
    )
    if trace:
        values = layers.per_layer(
            tracer, {op.id for op in ctx.ops}, cores,
            dict(
                ctx.extra,
                **{
                    "session.get_spark_s": get_spark_s,
                    "hub_read_p50_s": metrics.median(reads),
                    "error_rate": failed / len(ctx.ops),
                    "op_tail_pct": tail_pct,
                    "peak_rss_mb": peak_rss,
                },
            ),
        )
        units = dict(layers.per_layer_names())
    else:
        values, units = e2e, dict(END_TO_END)
    return {
        "correct": failed == 0,
        "attempted": len(ctx.ops),
        "failed": failed,
        "metrics": {
            name: {"value": values[name], "unit": unit}
            for name, unit in units.items()
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import metadata_ingestion_poc_spark  # noqa: F401  (fail before any work)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # A SIGTERM unwinds like an error, so Spark is stopped, its JVM
    # waited for and the work directory removed on that path too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _confine(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
