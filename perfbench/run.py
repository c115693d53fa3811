"""Detector benchmark: one seeded command per workload.

    python3 perfbench/run.py --workload cycle_steady --seed 1 --seconds 10 --trace 0

Run from the repository root. It writes the workload's inputs from the
seed (perfbench/gen.py), drives the library through its public entry
points (perfbench/workloads.py), checks every operation's output
against an independent oracle outside the timed region
(perfbench/oracle.py), and prints the metrics. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (perfbench/tracing.py). Everything the run
writes stays under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("cycle_steady", "stream_ingest")
# Spark task threads and driver heap (the library defaults to every core
# and 8g): two task threads leave the other cores of a 4-core host to the
# driver's planning and the JIT and GC threads, and a 1g heap keeps the
# driver at 1.1-1.4 GB on a host whose memory is shared
MAX_CPUS = 2
DRIVER_MEM = "1g"


def prepare_env(root: str, work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    the work directory, and size the session for this host."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "HHA_STREAM_LOG": os.path.join(work, "stream-errors.log"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "HHA_DRIVER_MEM": DRIVER_MEM,
        # no hsperfdata file: HotSpot puts it in /tmp whatever java.io.tmpdir says.
        # C1 only: C2 keeps recompiling the planner for ~30 cycles, longer
        # than a run, and a run would time the compiler's progress. C1 alone
        # gets a 48 MB code cache, which Spark fills in ~40 cycles (then the
        # JIT stops and method handles fail to link): give it tiered's 240 MB
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m' pyspark-shell"
        ),
    })
    os.chdir(work)  # spark-warehouse and friends land here
    sys.path.insert(0, root)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        line = next(x for x in fh if x.startswith("VmHWM:"))
    return (py_kb + int(line.split()[1])) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(run, stream: bool) -> tuple[dict, list[str]]:
    from stats import REF_BASE_S, median, normalized_cpu, tail

    ops = [o for o in run.ops if o["phase"] == "measure"]
    cpu = [o["cpu_s"] for o in ops]
    metrics = {
        "cycle_cpu_norm_s": (normalized_cpu(ops), "s"),
        "setup_s": (median(run.setup_s), "s"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }
    # wall times are printed, not gated: a shared host's steal moves them
    # by more than any bound a regression check could use
    if stream:
        series = {
            "cycle_cpu": cpu,
            "reference": [r for o in ops for r in o["ref_s"]],
            "cycle": [o["cycle_s"] for o in ops],
            "epoch": [o["epoch_s"] for o in ops],
            "alert_latency": [x for o in ops for x in o["latency_s"]],
        }
    else:
        series = {
            "cycle_cpu": cpu,
            "reference": [r for o in ops for r in o["ref_s"]],
            "cycle": [o["cycle_s"] for o in ops],
            "alert_latency": [o["run_cycle_s"] for o in ops],
        }
    lines = []
    for name, xs in series.items():
        value, pct = tail(xs)
        lines.append(f"{name}: n={len(xs)} p50={median(xs):.4f} s "
                     f"tail=p{pct:.1f} {value:.4f} s")
    lines.append(f"cycle_cpu_norm: {metrics['cycle_cpu_norm_s'][0]:.4f} s "
                 f"(median cycle_cpu x {REF_BASE_S} s / interquartile mean of reference)")
    lines.append("setup: " + ", ".join(f"{x:.3f}" for x in run.setup_s) + " s")
    return metrics, lines


def check(run, stream: bool) -> tuple[int, int, dict, dict]:
    """(attempted, failed, keys compared per op, input rows per op)."""
    import oracle

    if stream:
        n_bad, problems, counts = oracle.check_stream(run, os.path.join(run.inputs, "stage"))
        attempted = len(run.placed)
        failed = min(attempted, n_bad + attempted - len(run.consumed))
    else:
        bad, problems, counts = oracle.check_cycles(run.inputs, run.ops)
        attempted = len(run.ops)
        failed = len({o["k"] for o in run.ops if o["pinned_after"]} | set(bad))
    run.problems += problems
    return attempted, failed, {k: c[1] for k, c in counts.items()}, {
        k: c[0] for k, c in counts.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="hha_spark detector benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hha_spark", "detector.py")):
        print("run from the repository root: hha_spark/ not found", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", args.workload)
    os.makedirs(work, exist_ok=True)
    prepare_env(root, work)

    import gen
    from workloads import Run, run_cycles, run_stream

    t0 = time.perf_counter()
    inputs = os.path.join(work, "inputs")
    manifest = gen.generate(args.workload, args.seed, inputs)
    print(f"inputs: {args.workload} seed={args.seed} in {time.perf_counter() - t0:.2f} s",
          flush=True)

    stream = args.workload == "stream_ingest"
    run = Run(inputs, work, manifest, args.seconds)
    hooks = None
    if args.trace:
        from tracing import TraceHooks

        hooks = TraceHooks(run, stream)
    try:
        (run_stream if stream else run_cycles)(run, hooks)
        run.peak_rss_mb = peak_rss_mb(run.spark)
    finally:
        if hooks is not None:
            hooks.close()
            hooks.tracer.dump(os.path.join(work, "spans.json"))
        if run.spark is not None:
            stop_spark(run.spark)

    attempted, failed, keys, rows = check(run, stream)
    with open(os.path.join(work, "ops.json"), "w") as fh:
        json.dump({"setup_s": run.setup_s, "ops": run.ops, "problems": run.problems}, fh,
                  default=str)
    for p in run.problems:
        print(f"check: {p}", flush=True)
    print(f"checked {attempted} operations, {failed} failed "
          f"(failed_frac={failed / attempted:.4f})", flush=True)

    if args.trace:
        from tracing import UNITS, per_layer

        layer, lines = per_layer(run, hooks, keys, rows)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layer.items()}
    else:
        e2e, lines = end_to_end(run, stream)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for line in lines:
        print(line, flush=True)
    print(json.dumps({
        "correct": failed == 0 and not run.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
