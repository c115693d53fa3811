"""The traced run: span wrappers, job census and the per-layer report.

A traced run measures the first part of its timed region untraced
(half of it for cycles; for the stream, the epochs before the one that
evicts an hour, so that eviction is traced), then installs the wrappers
and measures the rest traced; the difference of the two parts'
``cycle_cpu_norm_s`` is the tracing overhead, reported with its base.
"""

from __future__ import annotations

import time

from spans import JobCensus, Tracer, job_totals, self_times
from stats import median, normalized_cpu
from workloads import file_count

# library functions run_cycle / the stream's batch processor look up
# by module attribute at call time -> span name
INNER = {
    "read_window": "histograms.read_window",
    "recent_alerts": "alerts.recent_alerts",
    "detect_spikes": "spike.detect_spikes",
    "collect_rules": "alerts.collect_rules",
    "append_alerts": "alerts.append_alerts",
    "release_tracked": "caching.release_tracked",
}
STREAM_ONLY = {
    "write_partitioned": "histograms.write_partitioned",
    "evict_expired_hours": "spike_stream.evict_expired_hours",
}
DURATIONS = ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets",
             "triggerExecution")

# every per-layer metric with its unit, in report order
UNITS = {
    "session.get_spark_s": "s",
    "detector.jobs": "count",
    "detector.stages": "count",
    "detector.tasks": "count",
    "detector.executor_run_s": "s",
    "detector.driver_gap_s": "s",
    "histograms.read_window_s": "s",
    "histograms.files_total": "count",
    "histograms.files_read": "count",
    "histograms.input_rows": "count",
    "histograms.input_bytes": "bytes",
    "histograms.write_partitioned_s": "s",
    "histograms.files_written": "count",
    "spike_stream.evict_expired_hours_s": "s",
    "spike_stream.hours_evicted": "count",
    "spike_stream.state_files": "count",
    "spike_stream.backlog_files": "count",
    "spike_stream.rows_per_epoch": "count",
    "spike_stream.generator_late_s": "s",
    **{f"spike_stream.duration.{d}_ms": "ms" for d in DURATIONS},
    "spike.detect_spikes_s": "s",
    "spike.shuffle_write_bytes": "bytes",
    "spike.shuffle_read_bytes": "bytes",
    "spike.spill_bytes": "bytes",
    "spike.keys_compared": "count",
    "spike.alert_frac": "ratio",
    "watchlist.zones_from_ints_s": "s",
    "watchlist.ips": "count",
    "alerts.recent_alerts_s": "s",
    "alerts.table_files": "count",
    "alerts.collect_rules_s": "s",
    "alerts.collect_rules_driver_s": "s",
    "alerts.rules": "count",
    "alerts.append_alerts_s": "s",
    "alerts.append_files": "count",
    "alerts.compact_alerts_s": "s",
    "alerts.compact_rows": "count",
    "caching.release_tracked_s": "s",
    "caching.pinned_after": "count",
    "trace.untraced_cycle_cpu_norm_s": "s",
    "trace.traced_cycle_cpu_norm_s": "s",
    "trace.overhead_cpu_norm_s": "s",
}


class TraceHooks:
    """Callbacks the workloads make in the traced run."""

    def __init__(self, run, stream: bool) -> None:
        self.run = run
        self.stream = stream
        self.tracer = Tracer()
        self.census = None
        self.traced = False
        self.trace_from_batch = None  # stream: install when this epoch calls back
        self.first_traced = None  # stream: first epoch that runs traced

    # -- installing ----------------------------------------------------
    def install(self) -> None:
        from hha_spark.caching import pinned_rdd_count

        import hha_spark.detector as detector
        import hha_spark.sinks.alerts as sink
        import hha_spark.streaming.spike_stream as spike_stream

        self.census = JobCensus(self.run.spark)  # starts after the untraced jobs
        spark = self.run.spark

        def table_files(rec, result, args, kwargs, pre):
            rec["table_files"] = file_count(args[1])

        def window_files(rec, result, args, kwargs, pre):
            # the files left after partition pruning, as physical
            # planning selects them (inputFiles() lists them all)
            plan = result._jdf.queryExecution().executedPlan()
            listing = plan.collectLeaves().apply(0).selectedPartitions()
            rec["files_read"] = listing.totalNumberOfFiles()
            rec["input_bytes"] = listing.totalFileSize()
            rec["files_total"] = file_count(args[1])

        def count_rules(rec, result, args, kwargs, pre):
            rec["rules"] = len(result)

        def files_before(args, kwargs):
            return file_count(args[1])

        def files_added(rec, result, args, kwargs, pre):
            rec["files_after"] = file_count(args[1])
            rec["files_added"] = rec["files_after"] - pre

        def pinned(rec, result, args, kwargs, pre):
            rec["pinned_after"] = pinned_rdd_count(spark)

        def rows(rec, result, args, kwargs, pre):
            rec["rows"] = result

        def dropped(rec, result, args, kwargs, pre):
            rec["dropped"] = result

        after = {
            "read_window": (None, window_files),
            "recent_alerts": (None, table_files),
            "detect_spikes": (None, None),
            "collect_rules": (None, count_rules),
            "append_alerts": (files_before, files_added),
            "release_tracked": (None, pinned),
            "write_partitioned": (files_before, files_added),
            "evict_expired_hours": (None, dropped),
        }
        module = spike_stream if self.stream else detector
        names = dict(INNER, **(STREAM_ONLY if self.stream else {}))
        for attr, name in names.items():
            before, post = after[attr]
            self.tracer.wrap(module, attr, name, before=before, after=post)
        if not self.stream:
            self.tracer.wrap(detector, "run_cycle", "detector.run_cycle")
            self.tracer.wrap(sink, "compact_alerts", "alerts.compact_alerts", after=rows)
        self.traced = True

    # -- cycle workloads -------------------------------------------------
    def tick(self, t_end) -> None:
        if t_end is not None and not self.traced and time.perf_counter() >= t_end - self.run.seconds / 2:
            self.install()

    def after_cycle(self, rec, alerts) -> None:
        if self.traced:
            self.census.poll()

    # -- stream ----------------------------------------------------------
    def epoch_done(self, batch: int) -> None:
        """Called from the epoch's on_rules callback, before the next
        file lands: installing here leaves no epoch half traced."""
        if self.trace_from_batch is not None and not self.traced and batch >= self.trace_from_batch:
            self.install()
            self.first_traced = batch + 1
        elif self.traced:
            self.census.poll()

    def close(self) -> None:
        self.tracer.unwrap_all()


def _op_of(spans: list[dict], ops: list[dict]) -> None:
    """Stamp each span with the op (cycle or epoch) whose interval holds
    its start."""
    for s in spans:
        s["op"] = None
        for o in ops:
            if o["start"] - 0.002 <= s["start"] <= o["end"] + 0.002:
                s["op"] = o["k"]
                break


def per_layer(run, hooks: TraceHooks, keys_per_op: dict, rows_per_op: dict) -> tuple[dict, list[str]]:
    """Every per-layer metric, and the report lines on span self time."""
    spans = hooks.tracer.spans
    stream = hooks.stream
    measured = [o for o in run.ops if o["phase"] == "measure"]
    if stream:
        first = hooks.first_traced if hooks.first_traced is not None else float("inf")
        for o in run.ops:
            o["traced"] = o["k"] >= first
    traced = [o for o in measured if o["traced"]]
    untraced = [o for o in measured if not o["traced"]]
    if not traced or not untraced:
        raise RuntimeError(
            f"traced run needs both halves: {len(untraced)} untraced, {len(traced)} traced ops"
        )
    _op_of(spans, run.ops)
    if stream:
        # epochs run on the stream's thread: parent its top spans on a
        # synthetic epoch span so self time adds up per epoch
        ids = max((s["id"] for s in spans), default=0)
        for o in run.ops:
            ids += 1
            ep = {"id": ids, "name": "spike_stream.epoch", "parent": None, "op": o["k"],
                  "start": o["start"], "end": o["end"], "thread": None}
            for s in spans:
                if s["op"] == o["k"] and s["parent"] is None:
                    s["parent"] = ep["id"]
            spans.append(ep)
    st = self_times(spans)
    traced_ids = {o["k"] for o in traced}
    by_op: dict[int, dict[str, list[dict]]] = {}
    for s in spans:
        if s["op"] in traced_ids:
            by_op.setdefault(s["op"], {}).setdefault(s["name"], []).append(s)

    def span_stat(name: str, field: str | None = None) -> float:
        vals = []
        for k in traced_ids:
            ss = by_op.get(k, {}).get(name, [])
            if not ss:
                continue
            if field is None:
                vals.append(sum(s["end"] - s["start"] for s in ss))
            else:
                vals.append(sum(s.get(field, 0) for s in ss))
        return median(vals) if vals else 0.0

    census = hooks.census
    # the rule collect runs the lazily built S1-S8 plan: its jobs are
    # the spike operator's, and its wall minus them is driver time
    det, collect = [], []
    for o in traced:
        end = o["end"] if stream else o["run_cycle_end"]
        det.append(job_totals(census.within(o["start"], end), o["start"], end))
        for s in by_op.get(o["k"], {}).get("alerts.collect_rules", []):
            collect.append(job_totals(census.within(s["start"], s["end"]), s["start"], s["end"]))

    def med(rows, key):
        return median([r[key] for r in rows]) if rows else 0.0

    p50_traced = normalized_cpu(traced)
    p50_untraced = normalized_cpu(untraced)
    keys = [keys_per_op[o["k"]] for o in traced if o["k"] in keys_per_op]
    rules = [o["n_rules"] for o in traced]
    m = {
        "session.get_spark_s": median(run.get_spark_s),
        "detector.jobs": med(det, "jobs"),
        "detector.stages": med(det, "stages"),
        "detector.tasks": med(det, "tasks"),
        "detector.executor_run_s": med(det, "executor_run_s"),
        "detector.driver_gap_s": med(det, "driver_gap_s"),
        "histograms.read_window_s": span_stat("histograms.read_window"),
        "histograms.files_total": span_stat("histograms.read_window", "files_total"),
        "histograms.files_read": span_stat("histograms.read_window", "files_read"),
        "histograms.input_rows": median([rows_per_op[o["k"]] for o in traced if o["k"] in rows_per_op] or [0]),
        "histograms.input_bytes": span_stat("histograms.read_window", "input_bytes"),
        "histograms.write_partitioned_s": span_stat("histograms.write_partitioned"),
        "histograms.files_written": span_stat("histograms.write_partitioned", "files_added"),
        "spike_stream.evict_expired_hours_s": span_stat("spike_stream.evict_expired_hours"),
        # total, not per epoch: one epoch of the timed region drops an hour
        "spike_stream.hours_evicted": sum(
            s.get("dropped", 0) for s in spans
            if s["name"] == "spike_stream.evict_expired_hours" and s["op"] in traced_ids),
        "spike_stream.state_files": span_stat("histograms.write_partitioned", "files_after"),
        "spike.detect_spikes_s": span_stat("spike.detect_spikes"),
        "spike.shuffle_write_bytes": med(collect, "shuffle_write_bytes"),
        "spike.shuffle_read_bytes": med(collect, "shuffle_read_bytes"),
        "spike.spill_bytes": med(collect, "spill_bytes"),
        "spike.keys_compared": median(keys) if keys else 0.0,
        "spike.alert_frac": sum(rules) / sum(keys) if keys and sum(keys) else 0.0,
        "watchlist.zones_from_ints_s": median(run.zones_s),
        "watchlist.ips": run.n_zones,
        "alerts.recent_alerts_s": span_stat("alerts.recent_alerts"),
        "alerts.table_files": span_stat("alerts.recent_alerts", "table_files"),
        "alerts.collect_rules_s": span_stat("alerts.collect_rules"),
        "alerts.collect_rules_driver_s": med(collect, "driver_gap_s"),
        "alerts.rules": median(rules),
        "alerts.append_alerts_s": span_stat("alerts.append_alerts"),
        "alerts.append_files": span_stat("alerts.append_alerts", "files_added"),
        "alerts.compact_alerts_s": _all_spans_median(spans, "alerts.compact_alerts"),
        "alerts.compact_rows": _all_spans_median(spans, "alerts.compact_alerts", "rows"),
        "caching.release_tracked_s": span_stat("caching.release_tracked"),
        "caching.pinned_after": max(
            [s.get("pinned_after", 0) for s in spans if s["name"] == "caching.release_tracked"]
            + [o.get("pinned_after", 0) for o in run.ops]
        ),
        "trace.untraced_cycle_cpu_norm_s": p50_untraced,
        "trace.traced_cycle_cpu_norm_s": p50_traced,
        "trace.overhead_cpu_norm_s": p50_traced - p50_untraced,
    }
    if stream:
        m["spike_stream.backlog_files"] = median([len(o["files"]) for o in traced])
        m["spike_stream.rows_per_epoch"] = median([o["rows"] for o in traced])
        m["spike_stream.generator_late_s"] = median([x for o in measured for x in o["late_s"]])
        for d in DURATIONS:
            m[f"spike_stream.duration.{d}_ms"] = median(
                [o["duration_s"].get(d, 0.0) * 1000.0 for o in traced]
            )
    else:
        m["spike_stream.backlog_files"] = 0
        m["spike_stream.rows_per_epoch"] = 0
        m["spike_stream.generator_late_s"] = 0.0
        for d in DURATIONS:
            m[f"spike_stream.duration.{d}_ms"] = 0.0

    lines = [f"trace: {len(untraced)} untraced / {len(traced)} traced ops; "
             f"overhead {m['trace.overhead_cpu_norm_s']:+.4f} s on an untraced cycle_cpu_norm_s "
             f"of {p50_untraced:.4f} s ({100 * m['trace.overhead_cpu_norm_s'] / p50_untraced:+.1f}%)",
             f"{'span':36s} {'n':>5s} {'p50 wall s':>11s} {'p50 self s':>11s}"]
    names = sorted({s["name"] for s in spans if s["op"] in traced_ids})
    for name in names:
        ss = [s for s in spans if s["name"] == name and s["op"] in traced_ids]
        lines.append(
            f"{name:36s} {len(ss):5d} {median([s['end'] - s['start'] for s in ss]):11.4f} "
            f"{median([st[s['id']] for s in ss]):11.4f}"
        )
    return m, lines


def _all_spans_median(spans, name, field=None) -> float:
    vals = [(s["end"] - s["start"]) if field is None else s.get(field, 0)
            for s in spans if s["name"] == name]
    return median(vals) if vals else 0.0
