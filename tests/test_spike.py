"""Golden tests for spike-detection semantics S1-S8 (SURVEY.md §2.1).

Scenarios encode the reference README's worked examples
(README.md:81-119) plus the edge cases FIXTURES.md §A1 calls out:
drop-clamp guard asymmetry, net-only spike, zero-prev division edge,
watchlist gating, TTL dedup.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hha_spark.config import DetectorParams
from hha_spark.functions.ip import net24_base
from hha_spark.operators.spike import (
    detect_spikes,
    fused_window_compare,
    window_averages,
)
from hha_spark.schemas import HISTOGRAM_SCHEMA, ZONES_SCHEMA

P = DetectorParams()  # defaults: Q=3, L32=2500, L24=3500, TTL=300
NOW = 1_700_000_000
CUR_TS = NOW - 10        # inside current window (> now-90)
PREV_TS = NOW - 400      # inside previous window (< now-300)
DEAD_TS = NOW - 200      # in neither window (one-sided bounds)


def hist_df(spark, rows):
    """rows: (ts, num_protocol, type_proto, count_pkt, dst_ip)"""
    data = [(ts, 1, np_, tp, cnt, ip) for ts, np_, tp, cnt, ip in rows]
    return spark.createDataFrame(data, HISTOGRAM_SCHEMA)


def key_rows(key, ts, avg_target, n=2):
    """n rows for one (num_protocol, type_proto, dst_ip) key whose
    CountPkt average equals avg_target exactly."""
    np_, tp, ip = key
    return [(ts, np_, tp, avg_target, ip) for _ in range(n)]


def alerts_set(df):
    return {
        (r.num_protocol, r.type_proto, r.sum_val, r.dst_ip, r.scope)
        for r in df.collect()
    }


IP_A = 174327308
IP_B = 174327315
IP_C = 174327451
NET_A = net24_base(IP_A)  # 174327296


def test_no_spike_scenario(spark):
    """README case 1: cur ≈ prev for every key -> empty alert set."""
    rows = []
    for key, cur, prev in [
        ((65535, 41, IP_A), 169, 179),
        ((2888, 32, IP_B), 176, 182),
        ((68, 11, IP_C), 173, 173),
        ((65535, 42, IP_B), 1745, 1737),
    ]:
        rows += key_rows(key, CUR_TS, cur) + key_rows(key, PREV_TS, prev)
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW, persist=False)
    assert out.count() == 0


def test_new_key_default(spark):
    """README case 2 / S4: a key absent from the previous window gets
    baseline LimitNewData; it alerts iff cur/L32 > Q, i.e. cur > 7500."""
    rows = (
        key_rows((68, 11, IP_C), CUR_TS, 175)       # new, small -> silent
        + key_rows((65535, 41, IP_A), CUR_TS, 8000)  # new, big -> alerts
        # an unrelated stable key so prev window is non-empty
        + key_rows((2888, 32, IP_B), CUR_TS, 176)
        + key_rows((2888, 32, IP_B), PREV_TS, 182)
    )
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW, persist=False)
    got = alerts_set(out)
    # /32 alert carries the BASELINE as sum_val (hha.py:210)
    assert (65535, 41, P.limit_new_data, IP_A, "ip") in got
    assert not any(r[3] == IP_C and r[4] == "ip" for r in got)


def test_spike_scenario(spark):
    """README case 3 / S6: existing keys with cur/prev > Q alert, with
    the baseline value in the sum_val slot."""
    rows = []
    for key, cur, prev in [
        ((65, 11, IP_C), 961, 174),     # 5.5x -> alert
        ((68, 11, IP_C), 1300, 174),    # 7.5x -> alert
        ((2777, 31, IP_C), 148, 150),   # flat
        ((2888, 32, IP_C), 173, 171),   # flat
        ((65535, 41, IP_C), 171, 173),  # flat
        ((65535, 42, IP_C), 1739, 1755),
    ]:
        rows += key_rows(key, CUR_TS, cur) + key_rows(key, PREV_TS, prev)
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW, persist=False)
    ip_alerts = {a for a in alerts_set(out) if a[4] == "ip"}
    assert ip_alerts == {(65, 11, 174, IP_C, "ip"), (68, 11, 174, IP_C, "ip")}


def test_avg_truncates_toward_zero(spark):
    """S1: int(avg) truncation — avg([10,11]) = 10.5 -> 10."""
    rows = [(CUR_TS, 65, 11, 10, IP_A), (CUR_TS, 65, 11, 11, IP_A)]
    out = window_averages(
        hist_df(spark, rows),
        key_cols=["num_protocol", "type_proto", "dst_ip"],
        value_col="CountPkt",
        lower=NOW - P.cur_window_sec,
    )
    assert out.collect()[0].sum_val == 10


def test_one_sided_windows_exclude_dead_zone(spark):
    """S1: rows between now-300 and now-90 belong to NEITHER window."""
    rows = key_rows((65, 11, IP_A), DEAD_TS, 99999)
    df = hist_df(spark, rows)
    cur = window_averages(
        df, key_cols=["dst_ip"], value_col="CountPkt", lower=NOW - 90
    )
    prev = window_averages(
        df, key_cols=["dst_ip"], value_col="CountPkt", upper=NOW - 300
    )
    assert cur.count() == 0 and prev.count() == 0


def test_drop_clamp_with_guard_ip(spark):
    """S3: /32 clamp fires only when prev > LimitNewData.

    Key X: prev=3000 (>2500), cur=100 -> prev/cur=30>Q and guard holds
    -> baseline clamped to 2500 -> 100/2500 no alert (but a later
    recovery to ~normal WOULD alert — asymmetry is intended).
    Key Y: prev=1000 (<=2500), cur=100 -> guard fails -> baseline 1000.
    Neither alerts now; verify via the baseline a recovery would see.
    """
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 100) + key_rows((65, 11, IP_A), PREV_TS, 3000)
        + key_rows((68, 11, IP_B), CUR_TS, 100) + key_rows((68, 11, IP_B), PREV_TS, 1000)
    )
    from hha_spark.operators.spike import compare_windows

    keys = ["num_protocol", "type_proto", "dst_ip"]
    df = hist_df(spark, rows)
    cur = window_averages(df, key_cols=keys, value_col="CountPkt", lower=NOW - 90)
    prev = window_averages(df, key_cols=keys, value_col="CountPkt", upper=NOW - 300)
    cmp_ = compare_windows(
        cur, prev, key_cols=keys, q=P.quotient_amplification,
        limit_new=P.limit_new_data, clamp_guard=True,
    )
    rows_ = {r.dst_ip: r for r in cmp_.collect()}
    assert rows_[IP_A].prev_sum_val2 == 2500   # clamped
    assert rows_[IP_B].prev_sum_val2 == 1000   # guard blocked the clamp


def test_net_clamp_lacks_guard(spark):
    """S5: the /24 clamp has NO prev>limit guard (hha.py:177 vs 191)."""
    from hha_spark.operators.spike import compare_windows, rollup_averages
    from hha_spark.functions.ip import ip_to_net24

    keys = ["num_protocol", "type_proto", "dst_ip"]
    rows = key_rows((65, 11, IP_A), CUR_TS, 100) + key_rows(
        (65, 11, IP_A), PREV_TS, 1000
    )
    df = hist_df(spark, rows)
    cur = window_averages(df, key_cols=keys, value_col="CountPkt", lower=NOW - 90)
    prev = window_averages(df, key_cols=keys, value_col="CountPkt", upper=NOW - 300)
    cur_n = rollup_averages(cur, group_cols=keys[:2], bucket_expr=ip_to_net24("dst_ip"), bucket_name="dst_net")
    prev_n = rollup_averages(prev, group_cols=keys[:2], bucket_expr=ip_to_net24("dst_ip"), bucket_name="dst_net")
    cmp_ = compare_windows(
        cur_n, prev_n, key_cols=["num_protocol", "type_proto", "dst_net"],
        q=P.quotient_amplification, limit_new=P.limit_new_data_net, clamp_guard=False,
    )
    r = cmp_.collect()[0]
    # prev=1000 is far below LimitNewDataNet yet the clamp still fires
    assert r.prev_sum_val2 == P.limit_new_data_net


def test_net_only_spike_from_new_host(spark):
    """A /24 alerts when a new host inflates the network average even
    though no single /32 crosses its own threshold (S2 avg-of-avg)."""
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 250)
        + key_rows((65, 11, IP_A), PREV_TS, 100)
        # same /24, new host, below the 7500 /32 new-key bar
        + key_rows((65, 11, IP_A + 1), CUR_TS, 5000)
    )
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW, persist=False)
    got = alerts_set(out)
    # net avg cur = (250+5000)/2 = 2625, prev = 100 -> 26x
    assert (65, 11, 100, NET_A, "net") in got
    assert not any(a[4] == "ip" for a in got)


def test_zero_prev_baseline_drops_row(spark):
    """S6 edge: prev avg truncates to 0 -> ratio NULL -> row silently
    dropped (legacy division semantics, reproduced via nullif)."""
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 900)
        + key_rows((65, 11, IP_A), PREV_TS, 0)
    )
    out = detect_spikes(hist_df(spark, rows), params=P, now=NOW, persist=False)
    assert not any(a[4] == "ip" for a in alerts_set(out))


def test_watchlist_gating_exact_match(spark):
    """S8: only watchlisted dst pass; a /24 alert needs its *base
    address* in the watchlist (hha.py:237 exact-int membership)."""
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 12000)         # new-key /32 + /24 alert
        + key_rows((68, 11, IP_C), CUR_TS, 8000)        # new-key /32 alert (not watched)
        + key_rows((2888, 32, IP_B), CUR_TS, 176)
        + key_rows((2888, 32, IP_B), PREV_TS, 182)
    )
    zones = spark.createDataFrame([(IP_A,), (net24_base(IP_A),)], ZONES_SCHEMA)
    out = detect_spikes(
        hist_df(spark, rows), params=P, now=NOW, zones=zones, persist=False
    )
    got = alerts_set(out)
    assert any(a[3] == IP_A and a[4] == "ip" for a in got)
    assert any(a[3] == NET_A and a[4] == "net" for a in got)  # base addr watched
    assert not any(a[3] == IP_C for a in got)


def test_ttl_dedup_suppresses_recent(spark):
    """S8: an alert raised within LimitDetectTimeSec is suppressed;
    an older one is re-raised (GlobalRowList TTL, hha.py:234-244)."""
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 8000)
        + key_rows((68, 11, IP_C), CUR_TS, 8000)
    )
    prior = spark.createDataFrame(
        [
            (65, 11, IP_A, NOW - 100),   # recent -> suppress
            (68, 11, IP_C, NOW - 9999),  # stale -> purged, re-alert
        ],
        "num_protocol int, type_proto int, dst_ip long, detected_at long",
    )
    out = detect_spikes(
        hist_df(spark, rows), params=P, now=NOW, prior_alerts=prior, persist=False
    )
    got = alerts_set(out)
    assert not any(a[3] == IP_A and a[4] == "ip" for a in got)
    assert any(a[3] == IP_C and a[4] == "ip" for a in got)


def test_subagent_id_ignored(spark):
    """The subagent_id column is carried but never affects grouping
    (selected at hha.py:142, unused downstream)."""
    data = [
        (CUR_TS, 1, 65, 11, 100, IP_A),
        (CUR_TS, 2, 65, 11, 200, IP_A),  # different agent, same key
    ]
    df = spark.createDataFrame(data, HISTOGRAM_SCHEMA)
    out = window_averages(
        df, key_cols=["num_protocol", "type_proto", "dst_ip"],
        value_col="CountPkt", lower=NOW - 90,
    )
    res = out.collect()
    assert len(res) == 1 and res[0].sum_val == 150


KEYS = ["num_protocol", "type_proto", "dst_ip"]


def _fused(df):
    return fused_window_compare(
        df, key_cols=KEYS, value_col="CountPkt", time_col="timestamp",
        cur_lower=NOW - P.cur_window_sec, prev_upper=NOW - P.prev_window_sec,
        q=P.quotient_amplification, limit_new=P.limit_new_data, clamp_guard=True,
    )


def test_average_exact_past_decimal_cast(spark):
    """S1 at scale: samples >= 10^12 must count in the sum, not just the
    count (a DECIMAL(18,6) cast turns them into NULL). Both the fused
    and the two-frame averages are exact integer SUM DIV COUNT."""
    rows = [
        (CUR_TS, 65, 11, 999_999_999_999, IP_A),
        (CUR_TS, 65, 11, 1_000_000_000_001, IP_A),
    ]
    df = hist_df(spark, rows)
    [fused] = _fused(df).collect()
    assert fused.sum_val == 1_000_000_000_000
    [two_frame] = window_averages(
        df, key_cols=KEYS, value_col="CountPkt", lower=NOW - P.cur_window_sec
    ).collect()
    assert two_frame.sum_val == 1_000_000_000_000


def test_average_raises_past_int64(spark):
    """A window sum past int64 raises instead of wrapping (non-ANSI SUM
    wraps silently) in both the fused and the two-frame kernel."""
    big = 6 * 10**18  # two of them overflow 2^63 - 1
    df = hist_df(spark, key_rows((65, 11, IP_A), CUR_TS, big))
    with pytest.raises(Exception, match="past int64"):
        _fused(df).collect()
    with pytest.raises(Exception, match="past int64"):
        window_averages(
            df, key_cols=KEYS, value_col="CountPkt", lower=NOW - P.cur_window_sec
        ).collect()


def test_warm_cycle_runs_one_materialization(spark, tmp_path, monkeypatch):
    """A warm run_cycle evaluates its S1-S8 plan once: the append
    writes the collected alerts from a driver-local scan (no
    FileScan of the histogram root, no cached plan to re-read), the
    fused aggregate sums as BIGINT (no decimal), and nothing stays
    pinned after the cycle."""
    import hha_spark.detector as detector
    from hha_spark.caching import pinned_rdd_count
    from hha_spark.sources.histograms import write_partitioned
    from hha_spark.sources.watchlist import zones_from_ints

    base = pinned_rdd_count(spark)
    data_root = str(tmp_path / "hist")
    alerts_path = str(tmp_path / "alerts")
    rows = (
        key_rows((65, 11, IP_A), CUR_TS, 8000)        # alerts in cycle 1
        + key_rows((68, 11, IP_B), NOW + 5, 9000)     # new in cycle 2
        + key_rows((2888, 32, IP_C), PREV_TS, 182)
    )
    write_partitioned(hist_df(spark, rows), data_root)
    zones = zones_from_ints(spark, [IP_A, IP_B])

    def cycle(now):
        return detector.run_cycle(
            spark, data_root=data_root, alerts_path=alerts_path,
            params=P, zones=zones, now=now,
        )

    assert [r["scope"] for r in cycle(NOW)] == ["ip"]  # creates the table
    plans = {}
    collect, append = detector.collect_rules, detector.append_alerts

    def spy_collect(alerts):
        plans["detect"] = alerts._jdf.queryExecution().analyzed().toString()
        return collect(alerts)

    def spy_append(frame, path, **kw):
        plans["append"] = frame._jdf.queryExecution().executedPlan().toString()
        return append(frame, path, **kw)

    monkeypatch.setattr(detector, "collect_rules", spy_collect)
    monkeypatch.setattr(detector, "append_alerts", spy_append)
    # warm: IP_A is suppressed by the TTL anti-join against the table
    # this cycle appends to; IP_B alerts
    rules = cycle(NOW + 10)
    assert [(r["dst_ip"], r["scope"]) for r in rules] == [("10.100.6.19", "ip")]
    assert "LocalTableScan" in plans["append"]
    assert "FileScan" not in plans["append"]
    assert "InMemory" not in plans["append"]
    assert "try_sum" in plans["detect"]
    assert "decimal" not in plans["detect"].lower()
    assert pinned_rdd_count(spark) <= base
