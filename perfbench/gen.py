"""Seeded input generator for the detector benchmark.

Everything a workload reads is written here, by this one process, with
pyarrow and numpy only; the library under test sees nothing but the
files. The same (workload, seed) writes byte-identical files.

Layout written under ``out_dir``:

    hist/date=YYYY-MM-DD/hour=H/part-NNNNN.parquet   cycle_steady's histograms
    state/date=YYYY-MM-DD/hour=H/part-NNNNN.parquet  stream_ingest's state table
    stage/slot-NNNNN.parquet                         stream files, one per slot
    zones.npy                                        watchlist (IPv4 ints)
    manifest.json                                    timeline and sizes

Sizes and why they were chosen
------------------------------
A warm cycle or epoch of the detector costs 1.1-3.5 CPU seconds and
1.1-3.5 s of wall time on a 4-vCPU host (2 Spark cores), depending on
what the host's other tenants do, and almost independently of these
sizes: it is 12-16 Spark jobs of planning and scheduling. What
bounds the sizes is the run length: a run must stay under ~65 s, so
that 4 + 22 runs of each of the two workloads fit in 3420 s. Of a run,
the JVM start and cold first operation take 10-20 s, the two further
set-ups 3-6 s, input generation, checks and shutdown ~6 s, and the
untimed warm-up (perfbench/workloads.py: ``CYCLE_WARM_OPS``,
``STREAM_WARM_OPS``) 5-15 s; that leaves the timed region
(BENCHMARK.json's run_seconds).

* ``cycle_steady``: 24 hourly partitions (6 files each) of 1500 keys
  reporting every 30 s, 180k rows/hour, so the file index lists 144
  files and pruning keeps the 3 newest hours (~200k rows in the
  window). Four spikes are planted per 10 s slot and the watchlist
  holds ~800 addresses, so a cycle emits ~5 rules: the scan, pruning
  and aggregation path does the work and the alerts sink idles; the
  small alert log is compacted every 5th cycle. Measured warm-up, with
  the JIT limited to C1 (perfbench/run.py): CPU per cycle falls by
  ~20 % over the JVM's first ~15 cycles (three set-ups, six warm
  cycles, then the timed ones); with C2 it falls from ~10 s to ~3.5 s
  over ~30 cycles, longer than a run.
* ``stream_ingest``: the state table starts with three hours (1500
  keys reporting every 60 s, 90k rows/hour), and the timeline starts
  95 s before the end of the newest one. One staged file per 10 s of
  synthetic time holds ~250 rows plus two planted spikes; the stream
  is fed in a closed loop (a file lands when the previous epoch's
  rules are out), so a run holds as many epochs as it can, one file
  each, and no queue builds up however slow the host is. Slot
  ``evict_slot`` is the first whose time lies past the newest hour, so
  its epoch drops the oldest hour from the state table: slot 0 runs in
  each set-up and slots 1 to ``STREAM_WARM_OPS`` (5) warm up, so it is the
  fifth timed epoch, which even a run of 3 s epochs reaches; the traced
  run traces from it on. ``cycle_slots`` leaves room for epochs of ~1 s.
  An open loop, one file every 5 s, held two or three epochs in an 11 s
  timed region, too few for a steady median.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-02T00:00:00Z; the first hour of every timeline
BASE_TS = 1_704_153_600
HOUR = 3600
SLOT_S = 10  # synthetic seconds between cycles (DetectorParams.sleep_interval)

TYPE_PROTOS = np.array([11, 31, 32, 41, 42], dtype=np.int32)
PORTS = np.array([19, 53, 123, 137, 161, 389, 1900, 3702, 11211, 27015], dtype=np.int32)

HIST_SCHEMA = pa.schema(
    [
        ("timestamp", pa.int64()),
        ("subagent_id", pa.int32()),
        ("num_protocol", pa.int32()),
        ("type_proto", pa.int32()),
        ("CountPkt", pa.int64()),
        ("dst_ip", pa.int64()),
    ]
)

SPECS = {
    "cycle_steady": dict(
        history_hours=24, files_per_hour=6, keys=1500, report_s=30,
        spikes_per_slot=4, zone_frac=0.5, cycle_slots=330,
        compact_every=5, keep_s=1800,
    ),
    "stream_ingest": dict(
        history_hours=3, files_per_hour=6, keys=1500, report_s=60,
        spikes_per_slot=2, zone_frac=0.5, cycle_slots=60, evict_slot=10,
    ),
}

BG_NET = (172 << 24) | (16 << 16)  # 172.16.0.0/16 background targets


def _hour_dir(root: str, hour_ts: int) -> str:
    d = datetime.fromtimestamp(hour_ts, tz=timezone.utc)
    return os.path.join(root, f"date={d:%Y-%m-%d}", f"hour={d.hour}")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _hist_table(ts, np_, tp, cnt, ip) -> pa.Table:
    order = np.lexsort((ip, ts))
    n = len(ts)
    return pa.Table.from_arrays(
        [
            pa.array(ts[order], pa.int64()),
            pa.array((ip[order] % 7).astype(np.int32) + 1, pa.int32()),
            pa.array(np_[order], pa.int32()),
            pa.array(tp[order], pa.int32()),
            pa.array(cnt[order], pa.int64()),
            pa.array(ip[order], pa.int64()),
        ],
        schema=HIST_SCHEMA,
    ) if n else HIST_SCHEMA.empty_table()


class _Traffic:
    """Background keys reporting on a fixed period plus planted spikes."""

    def __init__(self, rng: np.random.Generator, keys: int, report_s: int):
        host = rng.choice(np.arange(1, 256 * 64), size=keys, replace=True)
        host = host[host % 256 != 0]  # no key sits on a /24 base address
        keys = len(host)
        self.ip = (BG_NET + host).astype(np.int64)
        self.np_ = rng.choice(PORTS, size=keys)
        self.tp = rng.choice(TYPE_PROTOS, size=keys)
        self.base = np.exp(rng.uniform(np.log(50), np.log(2000), size=keys))
        self.phase = rng.integers(0, report_s, size=keys)
        self.report_s = report_s
        self.rng = rng

    def rows(self, lo: int, hi: int):
        """Normal samples with lo <= ts < hi."""
        t = []
        k = []
        first = lo + ((self.phase - lo) % self.report_s)
        for off in range(0, hi - lo, self.report_s):
            ts = first + off
            keep = ts < hi
            t.append(ts[keep])
            k.append(np.nonzero(keep)[0])
        ts = np.concatenate(t).astype(np.int64)
        idx = np.concatenate(k)
        noise = self.rng.uniform(0.75, 1.25, size=len(idx))
        cnt = np.maximum(1, (self.base[idx] * noise).astype(np.int64))
        return ts, self.np_[idx], self.tp[idx], cnt, self.ip[idx]

    def spikes(self, slot_end: int, n: int):
        """Two samples ~40x above normal for n random keys in the slot
        (slot_end - SLOT_S, slot_end]."""
        idx = np.repeat(self.rng.choice(len(self.ip), size=n, replace=False), 2)
        ts = slot_end - self.rng.integers(0, SLOT_S, size=len(idx))
        cnt = (self.base[idx] * self.rng.uniform(30, 50, size=len(idx))).astype(np.int64)
        return ts.astype(np.int64), self.np_[idx], self.tp[idx], cnt, self.ip[idx]


def _cat(parts):
    if not parts:
        z = np.zeros(0, np.int64)
        return z, z.astype(np.int32), z.astype(np.int32), z, z
    return tuple(np.concatenate([p[i] for p in parts]) for i in range(5))


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write every input of `workload` for `seed` into `out_dir`
    (emptied first) and return the manifest."""
    spec = SPECS[workload]
    rng = np.random.default_rng([seed, sorted(SPECS).index(workload)])
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    n_hours = spec["history_hours"]
    first_hour = BASE_TS
    cur_hour = first_hour + (n_hours - 1) * HOUR
    stream = workload == "stream_ingest"
    if stream:
        # slot evict_slot is the first past the newest hour: its `now`
        # puts the oldest hour's end beyond the two-hour retention
        now0 = cur_hour + HOUR + 5 - spec["evict_slot"] * SLOT_S
    else:
        # cycles start 5 min into the newest hour and stay inside it
        now0 = cur_hour + 300
        assert now0 + spec["cycle_slots"] * SLOT_S <= cur_hour + HOUR
    traffic = _Traffic(rng, spec["keys"], spec["report_s"])

    # planted spikes, one batch per 10 s slot from the first cycle on
    spikes = {}
    for s in range(spec["cycle_slots"] + 1):
        if spec["spikes_per_slot"]:
            spikes[now0 + s * SLOT_S] = traffic.spikes(now0 + s * SLOT_S, spec["spikes_per_slot"])

    zones = {int(ip) for ip in traffic.ip[rng.random(len(traffic.ip)) < spec["zone_frac"]]}
    # half of the watchlisted addresses bring their /24 base along, so
    # the /24 ("net") alerts pass the gate too
    zones |= {ip & 0xFFFFFF00 for ip in sorted(zones)[::2]}

    def extra(lo, hi):
        """Spike samples with lo <= ts < hi."""
        parts = []
        for slot_end, p in spikes.items():
            if slot_end - SLOT_S < hi and slot_end >= lo:
                m = (p[0] >= lo) & (p[0] < hi)
                parts.append(tuple(a[m] for a in p))
        return parts

    # histogram hours: all of them for the cycle workloads; for the
    # stream, everything before the first slot seeds the state table
    # and the rest is cut into one staged file per slot
    hist_root = os.path.join(out_dir, "state" if stream else "hist")
    step = HOUR // spec["files_per_hour"]
    for h in range(n_hours):
        hour_ts = first_hour + h * HOUR
        for f in range(spec["files_per_hour"]):
            lo = hour_ts + f * step
            hi = lo + step
            if stream:
                hi = min(hi, now0 - SLOT_S + 1)
                if lo >= hi:
                    continue
            rows = _cat([traffic.rows(lo, hi)] + extra(lo, hi))
            _write(_hist_table(*rows), os.path.join(_hour_dir(hist_root, hour_ts), f"part-{f:05d}.parquet"))
    slots = []
    if stream:
        for s in range(spec["cycle_slots"]):
            hi = now0 + s * SLOT_S + 1
            lo = hi - SLOT_S
            rows = _cat([traffic.rows(lo, hi)] + extra(lo, hi))
            name = f"slot-{s:05d}.parquet"
            _write(_hist_table(*rows), os.path.join(out_dir, "stage", name))
            slots.append({"file": name, "now": hi - 1, "rows": len(rows[0])})

    np.save(os.path.join(out_dir, "zones.npy"), np.array(sorted(zones), dtype=np.int64))
    manifest = {
        "workload": workload,
        "seed": seed,
        "spec": spec,
        "now0": now0,
        "slot_s": SLOT_S,
        "n_zones": len(zones),
        "slots": slots,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest

