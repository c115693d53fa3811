"""The benchmark's workloads, driven through the library's public entry
points only: ``detector.run_cycle`` (and ``sinks.alerts.compact_alerts``
between cycles, as its docstring prescribes) for ``cycle_steady``,
``streaming.spike_stream.run_streaming_detector`` for ``stream_ingest``.

Both loops are closed, with one client: the next cycle starts, or the
next staged file lands, when the previous one's rules are out.

Every workload first sets up ``SETUP_REPS`` times: ``get_spark()``, the
watchlist build and the workload's first cold operation, on a fresh
session each time (the first set-up also starts the JVM). The last
set-up's session carries on into a few untimed operations and then the
timed region.

Each operation records its wall time, the CPU time it cost the driver's
Python process and its JVM (which in local mode runs the executors too),
and the CPU time of a fixed reference computation in the JVM run just
before it (``Run.reference_s``). CPU time does not count the time a shared host's
hypervisor takes a virtual CPU away (steal), which wall time does; the
reference tells how fast the host runs code at that moment, as other
tenants slow it down by up to 2x for minutes at a time.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import numpy as np

SETUP_REPS = 3
# untimed operations after the set-ups: even with C1 alone (run.py),
# CPU per cycle still falls by ~20 % over the JVM's first ~15 cycles. A
# count, not a time, starts every run's timed region at the same point
# of that curve. On the stream, the count also puts gen.SPECS'
# evict_slot in the timed region, as its fifth epoch.
CYCLE_WARM_OPS = 6
STREAM_WARM_OPS = 5
DRAIN_TIMEOUT_S = 30.0
CLK_TCK = os.sysconf("SC_CLK_TCK")
REF_ITEMS = 100_000
REF_REPS = 3


class Run:
    """State of one benchmark run: where its files are, what it measured."""

    def __init__(self, inputs: str, work: str, manifest: dict, seconds: float) -> None:
        self.inputs = inputs
        self.work = work
        self.manifest = manifest
        self.spec = manifest["spec"]
        self.seconds = seconds
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.zones_s: list[float] = []
        self.n_zones = 0
        self.ops: list[dict] = []  # one record per cycle or epoch
        self.problems: list[str] = []
        self.spark = None
        self.jvm_pid = None
        # stream_ingest only: its directories, the files placed and
        # consumed, and every (wall time, value) the synthetic clock gave
        self.stream_dirs: dict[str, str] = {}
        self.placed: list[str] = []
        self.consumed: list[str] = []
        self.nows: list[tuple[float, int]] = []

    def start_session(self):
        from hha_spark.session import get_spark
        from hha_spark.sources.watchlist import zones_from_ints

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        ips = np.load(os.path.join(self.inputs, "zones.npy")).tolist()
        zones = zones_from_ints(self.spark, ips)
        self.get_spark_s.append(t1 - t0)
        self.zones_s.append(time.perf_counter() - t1)
        self.n_zones = len(ips)
        return t0, zones

    def cpu_s(self) -> float:
        """CPU seconds (user + system) used so far by this process, the
        JVM and the JVM's descendants (Spark's Python workers, which the
        detector does not start today), the ended ones included."""
        ticks: dict[int, int] = {}
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # ended while listed
                continue
            # utime, stime, and cutime, cstime of the children it waited for
            ticks[int(name)] = sum(int(x) for x in f[11:15])
            children.setdefault(int(f[1]), []).append(int(name))
        total = 0
        todo = [self.jvm_pid]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo += children.get(pid, [])
        own = os.times()
        return total / CLK_TCK + own.user + own.system

    def reference_s(self) -> list[float]:
        """REF_REPS times the CPU seconds a JVM thread takes to box
        REF_ITEMS seeded random longs into a list and sort it: the same
        allocation- and pointer-heavy work every time, 40-80 ms, on the
        JVM that runs the detector. Spark calls from one Python thread
        stay on one JVM thread, whose CPU clock they read."""
        jvm = self.spark._jvm
        clock = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        times = []
        for _ in range(REF_REPS):
            t = clock.getCurrentThreadCpuTime()
            xs = jvm.java.util.Random(0).longs(REF_ITEMS).boxed().collect(
                jvm.java.util.stream.Collectors.toList())
            jvm.java.util.Collections.sort(xs)
            times.append((clock.getCurrentThreadCpuTime() - t) / 1e9)
        return times

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path


def file_count(root: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


# -- cycle workloads ---------------------------------------------------------


def run_cycles(run: Run, hooks) -> None:
    """Closed loop, one client: back-to-back run_cycle with `now`
    advancing by the detector's sleep interval. `hooks` (traced run
    only) is ticked before and called after each cycle."""
    import hha_spark.detector as detector
    import hha_spark.sinks.alerts as sink
    from hha_spark.caching import pinned_rdd_count
    from hha_spark.config import DetectorParams

    params = DetectorParams()
    data_root = os.path.join(run.inputs, "hist")
    now0 = run.manifest["now0"]
    compact_every = run.spec["compact_every"]

    for i in range(SETUP_REPS):
        alerts = run.fresh_dir(f"setup{i}_alerts")
        t0, zones = run.start_session()
        detector.run_cycle(run.spark, data_root=data_root, alerts_path=alerts,
                           params=params, zones=zones, now=now0)
        run.setup_s.append(time.perf_counter() - t0)

    alerts = run.fresh_dir("alerts")
    max_cycles = run.spec["cycle_slots"]
    k = 0
    t_end = None
    while True:
        if k == CYCLE_WARM_OPS:
            t_end = time.perf_counter() + run.seconds
        elif t_end is not None and time.perf_counter() >= t_end:
            break
        phase = "warm" if t_end is None else "measure"
        if hooks and phase == "measure":
            hooks.tick(t_end)
        if k >= max_cycles:
            raise RuntimeError(f"timeline exhausted after {k} cycles")
        now = now0 + k * params.sleep_interval
        ref = run.reference_s()
        w0 = time.time()
        c0 = run.cpu_s()
        t0 = time.perf_counter()
        rules = detector.run_cycle(run.spark, data_root=data_root, alerts_path=alerts,
                                   params=params, zones=zones, now=now)
        t1 = time.perf_counter()
        w1 = time.time()
        cpu = run.cpu_s() - c0
        compact_rows = None
        if (k + 1) % compact_every == 0:
            compact_rows = sink.compact_alerts(run.spark, alerts, now=now,
                                               keep_sec=run.spec["keep_s"])
        t2 = time.perf_counter()
        rec = {"k": k, "now": now, "rules": rules, "n_rules": len(rules), "phase": phase,
               "traced": bool(hooks and hooks.traced),
               "run_cycle_s": t1 - t0, "cycle_s": t2 - t0, "cpu_s": cpu, "ref_s": ref,
               "start": w0, "run_cycle_end": w1, "end": time.time(),
               "compact_rows": compact_rows}
        rec["pinned_after"] = pinned_rdd_count(run.spark)
        if rec["pinned_after"]:
            run.problems.append(f"cycle {k}: {rec['pinned_after']} RDDs still pinned")
        if hooks:
            hooks.after_cycle(rec, alerts)
        run.ops.append(rec)
        k += 1


# -- stream workload ---------------------------------------------------------


class Feeder:
    """Places pre-staged slot files into the stream's source directory,
    by hard link, which is atomic."""

    def __init__(self, stage: str, src: str, slots: list[dict]) -> None:
        self.stage, self.src, self.slots = stage, src, slots
        self.placed: list[dict] = []  # {"i", "file", "due", "at"}
        self.nows: list[tuple[float, int]] = []  # (wall time, value) per call

    def place(self, i: int, due: float) -> None:
        if i >= len(self.slots):
            raise RuntimeError(f"timeline exhausted after {i} slots")
        name = self.slots[i]["file"]
        os.link(os.path.join(self.stage, name), os.path.join(self.src, name))
        self.placed.append({"i": i, "file": name, "due": due, "at": time.time()})

    def now(self) -> int:
        """Synthetic clock for the detector: end of the newest placed slot."""
        now = self.slots[self.placed[-1]["i"]]["now"]
        self.nows.append((time.time(), now))
        return now


def consumed_files(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log."""
    out = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _iso_ts(s: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def run_stream(run: Run, hooks) -> None:
    """Closed loop, one client: a staged file lands in
    run_streaming_detector's source directory as soon as the epoch that
    consumed the previous one has called back with its rules."""
    from hha_spark.config import DetectorParams
    from hha_spark.streaming.spike_stream import run_streaming_detector

    params = DetectorParams()
    slots = run.manifest["slots"]
    stage = os.path.join(run.inputs, "stage")
    query = None
    for i in range(SETUP_REPS):
        if query is not None:
            query.stop()
        base = run.fresh_dir(f"stream{i}")
        src = os.path.join(base, "src")
        state = os.path.join(base, "state")
        os.makedirs(src)
        shutil.copytree(os.path.join(run.inputs, "state"), state)
        feeder = Feeder(stage, src, slots)
        # (wall time, rules, CPU s on entry, reference s, CPU s after it)
        calls: list[tuple[float, int, float, list[float], float]] = []
        called = threading.Condition()

        def on_rules(rules, calls=calls, called=called):
            # the stream waits for this callback: the reference runs
            # between two epochs' work and is kept out of both
            with called:
                t, cpu = time.time(), run.cpu_s()
                ref = run.reference_s()
                calls.append((t, len(rules), cpu, ref, run.cpu_s()))
                if hooks:  # before the next file lands: no epoch runs half traced
                    hooks.epoch_done(len(calls) - 1)
                called.notify_all()

        def wait_epochs(n, calls=calls, called=called):
            with called:
                while len(calls) < n:
                    if query.exception() is not None:
                        raise RuntimeError(f"stream failed: {query.exception()}")
                    called.wait(0.5)

        t0, zones = run.start_session()
        feeder.place(0, time.time())
        query = run_streaming_detector(
            run.spark, data_root=src, samples_root=state,
            alerts_path=os.path.join(base, "alerts"),
            checkpoint=os.path.join(base, "checkpoint"), params=params, zones=zones,
            # no trigger interval: the next epoch starts as soon as a file
            # lands, so latency is not padded by the wait for a tick
            now_fn=feeder.now, on_rules=on_rules,
        )
        wait_epochs(1)
        run.setup_s.append(time.perf_counter() - t0)

    checkpoint = os.path.join(base, "checkpoint")
    run.stream_dirs = {"state": state, "alerts": os.path.join(base, "alerts")}
    # each file is due when the previous epoch's rules are out
    i = 1
    while i <= STREAM_WARM_OPS:
        feeder.place(i, calls[-1][0])
        i += 1
        wait_epochs(i)
    t_meas = time.time()
    t_end = t_meas + run.seconds
    if hooks:
        # the epochs before the one that evicts an hour run untraced;
        # the wrappers go in when the one before it calls back
        hooks.trace_from_batch = run.spec["evict_slot"] - 1
    while time.time() < t_end:
        feeder.place(i, calls[-1][0])
        i += 1
        wait_epochs(i)

    # drain: every placed file consumed, its epoch's callback made and
    # its progress reported (which comes after the callback)
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        batches = consumed_files(checkpoint)
        done = all(p["file"] in batches for p in feeder.placed)
        last = query.lastProgress
        if done and last is not None and last.batchId >= max(batches.values()):
            break
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            run.problems.append("stream did not drain its backlog in time")
            break
        time.sleep(0.1)
    progress = {p.batchId: p for p in query.recentProgress if p.numInputRows}
    query.stop()

    by_batch: dict[int, list[dict]] = {}
    for p in feeder.placed:
        b = batches.get(p["file"])
        if b is not None:
            by_batch.setdefault(b, []).append(p)
    for b, files in sorted(by_batch.items()):
        prog = progress.get(b)
        if prog is None or b >= len(calls):
            continue
        measured = any(f["i"] > STREAM_WARM_OPS for f in files)
        start = _iso_ts(prog.timestamp)
        cpu = calls[b][2] - calls[b - 1][4] if b else None
        ref = calls[b - 1][3] if b else None
        dur = {k: v / 1000.0 for k, v in prog.durationMs.items()}
        run.ops.append({
            "k": b,
            "phase": "measure" if measured else "warm",
            "start": start,
            "end": start + dur.get("triggerExecution", 0.0),
            "epoch_s": dur.get("triggerExecution"),
            "cycle_s": dur.get("addBatch"),
            "cpu_s": cpu,
            "ref_s": ref,
            "duration_s": dur,
            "rows": prog.numInputRows,
            "files": [f["file"] for f in files],
            "latency_s": [calls[b][0] - f["due"] for f in files],
            "late_s": [f["at"] - f["due"] for f in files],
            "n_rules": calls[b][1],
        })
    run.placed = [p["file"] for p in feeder.placed]
    run.consumed = [f for f in run.placed if f in batches]
    run.nows = feeder.nows
