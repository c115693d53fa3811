"""Output checks, run after the timed region.

* Cycle workloads: DuckDB replays every cycle the run made — S1-S8 as
  SQL, transcribed from the ``spike_events_*`` oracle statements onto
  the histogram columns — against the same files, keeping its own alert
  log, and the rules of each cycle must equal the library's.
* ``stream_ingest``: every row of every consumed file is in the state
  table exactly once, no hour past the retention is left in it, and no
  alert key repeats within the TTL.
"""

from __future__ import annotations

import ipaddress
import os
from collections import Counter
from datetime import datetime, timezone

import duckdb
import numpy as np

# hha_spark.config.DetectorParams defaults, restated so the oracle does
# not read the thresholds from the code it checks
Q = 3
LIMIT_NEW = 2500
LIMIT_NEW_NET = 3500
TTL = 300
CUR_S = 90
PREV_S = 300
NET24_MASK = 0xFFFFFF00
# streaming.spike_stream.RETENTION_SEC: the stream's read window
RETENTION_S = 7200

_AVG = "CAST(FLOOR(SUM(CAST(CountPkt AS DECIMAL(18,6))) / COUNT(*)) AS BIGINT)"
_KEYS = "num_protocol, type_proto, dst_ip"

CYCLE_SQL = f"""
WITH ev AS (
  SELECT * FROM hist WHERE timestamp > $lower AND timestamp < $now + 1),
cur AS (
  SELECT {_KEYS}, {_AVG} AS sum_val FROM ev
  WHERE timestamp > $now - {CUR_S} GROUP BY {_KEYS}),
prev AS (
  SELECT {_KEYS}, {_AVG} AS sum_val FROM ev
  WHERE timestamp < $now - {PREV_S} GROUP BY {_KEYS}),
cmp AS (
  SELECT c.num_protocol, c.type_proto, c.dst_ip, c.sum_val,
         COALESCE(CASE WHEN p.sum_val / NULLIF(c.sum_val, 0) > {Q}
                        AND p.sum_val > {LIMIT_NEW}
                       THEN {LIMIT_NEW} ELSE p.sum_val END,
                  {LIMIT_NEW}) AS prev_sum_val2
  FROM cur c LEFT JOIN prev p USING ({_KEYS})),
cur_net AS (
  SELECT num_protocol, type_proto, dst_ip & {NET24_MASK} AS dst_net,
         CAST(SUM(sum_val) // COUNT(*) AS BIGINT) AS sum_val
  FROM cur GROUP BY 1, 2, 3),
prev_net AS (
  SELECT num_protocol, type_proto, dst_ip & {NET24_MASK} AS dst_net,
         CAST(SUM(sum_val) // COUNT(*) AS BIGINT) AS sum_val
  FROM prev GROUP BY 1, 2, 3),
cmp_net AS (
  SELECT c.num_protocol, c.type_proto, c.dst_net, c.sum_val,
         COALESCE(CASE WHEN p.sum_val / NULLIF(c.sum_val, 0) > {Q}
                       THEN {LIMIT_NEW_NET} ELSE p.sum_val END,
                  {LIMIT_NEW_NET}) AS prev_sum_val2
  FROM cur_net c LEFT JOIN prev_net p USING (num_protocol, type_proto, dst_net)),
alerts AS (
  SELECT num_protocol, type_proto, prev_sum_val2 AS sum_val, dst_ip, 'ip' AS scope
  FROM cmp WHERE sum_val / NULLIF(prev_sum_val2, 0) > {Q}
  UNION ALL
  SELECT num_protocol, type_proto, prev_sum_val2, dst_net, 'net'
  FROM cmp_net WHERE sum_val / NULLIF(prev_sum_val2, 0) > {Q})
SELECT a.* FROM alerts a
WHERE a.dst_ip IN (SELECT ip FROM zones)
  AND NOT EXISTS (
    SELECT 1 FROM log r
    WHERE r.detected_at > $now - {TTL}
      AND r.num_protocol = a.num_protocol AND r.type_proto = a.type_proto
      AND r.dst_ip = a.dst_ip)
"""

COUNTS_SQL = f"""
SELECT count(*),
       count(DISTINCT ({_KEYS})) FILTER (WHERE {{windows}}),
       count(DISTINCT (num_protocol, type_proto, dst_ip & {NET24_MASK})) FILTER (WHERE {{windows}})
FROM hist WHERE timestamp > $lower AND timestamp < $upper
""".format(windows=f"timestamp > $now - {CUR_S} OR timestamp < $now - {PREV_S}")


def window_counts(con, lower: int, upper: int, now: int) -> tuple[int, int]:
    """(rows the read window delivers, /32 plus /24 keys compared)."""
    rows, ip, net = con.execute(
        COUNTS_SQL, {"lower": lower, "upper": upper, "now": now}
    ).fetchone()
    return rows, ip + net


def window_lower(now: int, history_hours: int = 2) -> int:
    """run_cycle's read bound: the previous full hour, strict `>`."""
    return (now // 3600) * 3600 - (history_hours - 1) * 3600 - 1


def _rule_key(r: dict) -> tuple:
    return (r["num_protocol"], r["type_proto"], r["sum_val"], r["dst_ip"], r["scope"])


class CycleOracle:
    """DuckDB replay of the detection cycles of one run."""

    def __init__(self, inputs: str, nows: list[int]) -> None:
        self.con = duckdb.connect()
        lo = window_lower(min(nows))
        hi = max(nows) + 1
        files = os.path.join(inputs, "hist", "*", "*", "*.parquet")
        self.con.execute(
            f"CREATE TABLE hist AS SELECT timestamp, num_protocol, type_proto, "
            f"CountPkt, dst_ip FROM read_parquet('{files}', hive_partitioning = false) "
            f"WHERE timestamp > {lo} AND timestamp < {hi}"
        )
        zones = np.load(os.path.join(inputs, "zones.npy"))
        self.con.execute("CREATE TABLE zones (ip BIGINT)")
        self.con.executemany("INSERT INTO zones VALUES (?)", [[int(z)] for z in zones])
        self.con.execute(
            "CREATE TABLE log (num_protocol INTEGER, type_proto INTEGER, "
            "dst_ip BIGINT, detected_at BIGINT)"
        )

    def rules(self, now: int) -> list[dict]:
        """Expected rules of the cycle at `now`; appends them to the log."""
        rows = self.con.execute(CYCLE_SQL, {"now": now, "lower": window_lower(now)}).fetchall()
        if rows:
            self.con.executemany(
                "INSERT INTO log VALUES (?, ?, ?, ?)",
                [[r[0], r[1], r[3], now] for r in rows],
            )
        return [
            {
                "num_protocol": r[0],
                "type_proto": r[1],
                "sum_val": r[2],
                "dst_ip": str(ipaddress.IPv4Address(int(r[3]))),
                "scope": r[4],
            }
            for r in rows
        ]


def check_cycles(inputs: str, cycles: list[dict]) -> tuple[list[int], list[str], dict]:
    """Replay `cycles` ({"k", "now", "rules"} in execution order).
    Returns (ids of mismatching cycles, first problems, id -> (input
    rows, keys compared))."""
    oracle = CycleOracle(inputs, [c["now"] for c in cycles])
    bad = []
    problems: list[str] = []
    counts = {}
    for c in cycles:
        want = Counter(_rule_key(r) for r in oracle.rules(c["now"]))
        got = Counter(_rule_key(r) for r in c["rules"])
        counts[c["k"]] = window_counts(oracle.con, window_lower(c["now"]), c["now"] + 1, c["now"])
        if want != got:
            bad.append(c["k"])
            if len(problems) < 3:
                problems.append(
                    f"cycle now={c['now']}: {sum((got - want).values())} unexpected, "
                    f"{sum((want - got).values())} missing of {sum(want.values())} rules"
                )
    return bad, problems, counts


def check_stream(run, stage: str) -> tuple[int, list[str], dict]:
    """Check the stream's state table and alert log. Returns (failed
    files, expired hours and repeated alerts; problems; epoch id ->
    (input rows, keys compared))."""
    problems = []
    con = duckdb.connect()
    state = run.stream_dirs["state"]
    alerts = run.stream_dirs["alerts"]
    con.execute(
        f"CREATE TABLE hist AS SELECT timestamp, subagent_id, num_protocol, type_proto, "
        f"CountPkt, dst_ip FROM read_parquet('{state}/*/*/*.parquet', hive_partitioning = false)"
    )
    # each staged file holds one 10 s slot: compare the file's rows with
    # the state rows in that slot, as multisets, both ways
    bad_files = 0
    for name in run.consumed:
        path = os.path.join(stage, name)
        (n_diff,) = con.execute(
            f"WITH fed AS (SELECT * FROM read_parquet('{path}')), "
            f"st AS (SELECT * FROM hist WHERE timestamp BETWEEN "
            f"(SELECT min(timestamp) FROM fed) AND (SELECT max(timestamp) FROM fed)) "
            f"SELECT count(*) FROM ((SELECT * FROM fed EXCEPT ALL SELECT * FROM st) "
            f"UNION ALL (SELECT * FROM st EXCEPT ALL SELECT * FROM fed))"
        ).fetchone()
        if n_diff:
            bad_files += 1
            if len(problems) < 3:
                problems.append(f"{name}: state table differs from the file by {n_diff} rows")
    # no hour that ended before the retention horizon of the last
    # epoch's `now` may be left in the state table
    horizon = max(v for _, v in run.nows) - RETENTION_S
    expired = [
        f"{d}/{h}"
        for d in sorted(os.listdir(state)) if d.startswith("date=")
        for h in sorted(os.listdir(os.path.join(state, d))) if h.startswith("hour=")
        if _hour_start(d, h) + 3600 < horizon
    ]
    if expired:
        problems.append(f"state table keeps expired hours {expired}")
    n_rep = 0
    if os.path.isdir(alerts):
        (n_rep,) = con.execute(
            f"SELECT count(*) FROM (SELECT detected_at - lag(detected_at) OVER "
            f"(PARTITION BY num_protocol, type_proto, dst_ip ORDER BY detected_at) AS gap "
            f"FROM read_parquet('{alerts}/*.parquet')) WHERE gap < {TTL}"
        ).fetchone()
        if n_rep:
            problems.append(f"{n_rep} alerts repeat a key within the {TTL} s TTL")
    counts = {}
    for o in run.ops:
        nows = [v for t, v in run.nows if o["start"] - 0.01 <= t <= o["end"] + 0.01]
        if nows:
            now = nows[0]
            counts[o["k"]] = window_counts(con, now - RETENTION_S, now + 1, now)
    return bad_files + len(expired) + n_rep, problems, counts


def _hour_start(date_dir: str, hour_dir: str) -> int:
    d = datetime.strptime(date_dir.split("=", 1)[1], "%Y-%m-%d").replace(tzinfo=timezone.utc)
    return int(d.timestamp()) + 3600 * int(hour_dir.split("=", 1)[1])
