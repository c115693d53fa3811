"""Two-window amplification-spike detection (the reference's core query).

Re-expresses reference hha.py:132-219 (`FiltrDataByInterval`) +
hha.py:223-244 (`attackAction`) as composable, key-generic DataFrame
transformations. Normative semantics S1-S8 are documented in
SURVEY.md §2.1; every quirk preserved here is cited.

Spark-first design decisions (vs the reference):
  * /24 derivation is a native bitmask expression (functions/ip.py),
    not a Python UDF (hha.py:20) — keeps whole-stage codegen intact.
  * both windows come from ONE conditional aggregation (the fused
    path); its per-key frame is persist()ed, replacing the RDD
    round-trip materialization hack (`recreateDF`, hha.py:119-128),
    and feeds both the /32 filter and the /24 aggregate.
  * joins use a column-name list (no alias dance, hha.py:150,165-176).
  * watchlist gating is a broadcast left-semi join BEFORE any collect,
    replacing the driver-side `in zones` loop (hha.py:233-242).
  * TTL alert dedup is a left-anti join against a persisted alerts
    table, replacing the in-memory GlobalRowList dict (hha.py:234-244).
  * division guards: ratio denominators are wrapped in nullif(x, 0) so
    the query behaves identically under ANSI and legacy modes (the
    reference relied on legacy int/0 -> NULL row-drop, SURVEY.md S6).

Scale notes (100 TB design): raw data is scanned ONCE and shuffled
once — one conditional aggregation yields both window averages per
/32 key (fused_window_compare); the /24 branch is one more aggregate
over that already-aggregated, persisted frame (avg-of-avg,
hha.py:160-168 semantics; rollup_compare), whose cardinality is the
distinct-key count, not raw rows. Both are partial-aggregated
map-side by Catalyst, and no join remains on the comparison path;
the watchlist and TTL gates are broadcast. Averages of the integral
counter are BIGINT SUM DIV COUNT: exact at any scale, with no decimal
arithmetic, and raising rather than wrapping past int64
(functions/exact.int_avg_floor).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from hha_spark.caching import tracked_persist
from hha_spark.config import DetectorParams
from hha_spark.functions.exact import int_avg_floor
from hha_spark.functions.ip import ip_to_net24


def _safe_ratio(num: Column, den: Column) -> Column:
    """num/den with NULL (not error, not inf) on den == 0.

    Matches the reference's legacy-mode division semantics
    (SURVEY.md S6) while staying correct under ANSI mode.
    """
    return num / F.nullif(den, F.lit(0))


def _is_integral(df: DataFrame, col: str) -> bool:
    return isinstance(df.schema[col].dataType, IntegralType)


def _avgs(
    df: DataFrame,
    key_cols: Sequence[str],
    values: dict[str, Column],
    *,
    integral: bool,
) -> DataFrame:
    """Per key, floor(avg) of the non-NULL values of each named
    (typically CASE-conditional) column, all from ONE aggregation;
    NULL where the key has none.

    integral=True: BIGINT TRY_SUM DIV COUNT (exact.int_avg_floor) —
    exact at any scale and raising past int64. Otherwise the
    fractional path: an exact DECIMAL(18,6) sum over the count,
    floored (what the events-domain oracles mirror).
    """
    aggs, outs = [], []
    for i, (name, v) in enumerate(values.items()):
        s, n = f"_sum{i}", f"_n{i}"
        aggs += [
            (F.try_sum(v) if integral else F.sum(v.cast("decimal(18,6)"))).alias(s),
            F.count(v).alias(n),
        ]
        avg = (
            int_avg_floor(s, n)
            if integral
            else F.when(F.col(n) > 0, F.floor(F.col(s) / F.col(n)).cast("long"))
        )
        outs.append(avg.alias(name))
    return df.groupBy(*key_cols).agg(*aggs).select(*key_cols, *outs)


def _clamp(
    with_avgs: DataFrame,
    key_cols: Sequence[str],
    *,
    q: float,
    limit_new: int,
    clamp_guard: bool,
) -> DataFrame:
    """S3/S4 by projection over (sum_val, prev_sum_val): the clamped
    or defaulted baseline prev_sum_val2, NULL where sum_val is."""
    clamp_cond = _safe_ratio(F.col("prev_sum_val"), F.col("sum_val")) > F.lit(q)
    if clamp_guard:
        clamp_cond = clamp_cond & (F.col("prev_sum_val") > F.lit(limit_new))
    return with_avgs.select(
        *key_cols,
        "sum_val",
        "prev_sum_val",
        F.when(
            F.col("sum_val").isNotNull(),
            F.coalesce(
                F.when(clamp_cond, F.lit(limit_new)).otherwise(F.col("prev_sum_val")),
                F.lit(limit_new),
            ),
        ).alias("prev_sum_val2"),
    )


def window_averages(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    value_col: str,
    time_col: str = "timestamp",
    lower: int | None = None,
    upper: int | None = None,
    out_col: str = "sum_val",
) -> DataFrame:
    """S1 — per-key truncated average over a one-sided time window.

    Reference: filter at hha.py:141/148, aggregate at hha.py:143/149.
    `int(avg(x))` truncates toward zero (IntegerType cast) — preserved
    via floor on non-negative counters; `sum_val` is an AVERAGE
    despite its name (README.md:79).

    Both reference windows are one-sided (`endTime` computed but never
    applied, hha.py:321-323): pass only `lower` or only `upper` for
    parity; both for a bounded window.

    The average is exact, so identical across engines and partition
    orders: BIGINT SUM DIV COUNT for integer columns (the kernel
    fused_window_compare uses), a decimal SUM / COUNT for fractional
    ones (functions/exact.py).
    """
    cond = F.lit(True)
    if lower is not None:
        cond = cond & (F.col(time_col) > F.lit(lower))
    if upper is not None:
        cond = cond & (F.col(time_col) < F.lit(upper))
    return _avgs(
        df.where(cond), key_cols, {out_col: F.col(value_col)},
        integral=_is_integral(df, value_col),
    )


def rollup_averages(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    bucket_expr: Column,
    bucket_name: str,
    value_col: str = "sum_val",
) -> DataFrame:
    """S2 — re-average already-averaged per-key values into buckets.

    Reference hha.py:160-168: the /24 value is avg(per-/32 avg), NOT a
    recomputation from raw rows — an intentional quirk we preserve.
    `bucket_expr` generalizes the /24 network derivation.
    """
    return _avgs(
        df.withColumn(bucket_name, bucket_expr),
        [*group_cols, bucket_name],
        {value_col: F.col(value_col)},
        integral=True,
    )


def rollup_compare(
    per_key: DataFrame,
    *,
    group_cols: Sequence[str],
    bucket_expr: Column,
    bucket_name: str,
    q: float,
    limit_new: int,
) -> DataFrame:
    """S2-S5 for buckets from ONE NULL-aware conditional aggregate
    over fused_window_compare's per-key frame.

    Per bucket, the current average is avg-of-avg over the keys with
    a current average (sum_val NOT NULL) and the previous one over
    the keys with a previous average — exactly rollup_averages on each
    window's keys — and the comparison is compare_windows' left join
    done by projection: buckets without current keys drop, buckets
    without previous keys default to `limit_new`, and the clamp is
    unguarded (hha.py:177-178). One shuffle and no join instead of two
    rollups, two shuffles and a join.

    Output: group_cols + [bucket_name, sum_val, prev_sum_val (raw,
    NULL when absent), prev_sum_val2].
    """
    keys = [*group_cols, bucket_name]
    with_avgs = _avgs(
        per_key.withColumn(bucket_name, bucket_expr),
        keys,
        {"sum_val": F.col("sum_val"), "prev_sum_val": F.col("prev_sum_val")},
        integral=True,
    )
    return _clamp(
        with_avgs.where(F.col("sum_val").isNotNull()), keys,
        q=q, limit_new=limit_new, clamp_guard=False,
    )


def fused_window_compare(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    value_col: str,
    time_col: str,
    cur_lower: Column | int,
    prev_upper: Column | int,
    q: float,
    limit_new: int,
    clamp_guard: bool,
) -> DataFrame:
    """Single-pass S1+S3+S4: both window averages from ONE conditional
    aggregation, compare on the same row.

    The two-frame formulation (window_averages ×2 + left join) mirrors
    the reference's two-file reads, but when both windows come from
    the same source the whole comparison collapses: per key, aggregate
    CASE-filtered sums/counts for each window in one shuffle, then
    derive cur/prev/clamp by projection. At scale this replaces
    2 scans + 2 shuffles + 1 join with 1 scan + 1 shuffle + 0 joins,
    with identical results (keys missing from the previous window
    surface as prev_n = 0 -> the S4 default, exactly like a left-join
    miss).

    Bounds may be Columns (e.g. data-derived `now` broadcast via a
    1-row cross join) or int literals. Integer value columns (the
    histogram's CountPkt) average as BIGINT SUM DIV COUNT, exact at
    any scale and raising past int64 (functions/exact.int_avg_floor);
    fractional ones through the exact decimal path. Output: all keys
    seen in EITHER window, with
        sum_val       cur avg (NULL when the key has no current rows)
        prev_sum_val  raw prev avg (NULL when absent)
        prev_sum_val2 clamped/defaulted baseline (S3/S4)
    Callers filter `sum_val IS NOT NULL` for the alert path; the
    bucket rollup (rollup_compare) reads both averages.
    """
    lo = cur_lower if isinstance(cur_lower, Column) else F.lit(cur_lower)
    hi = prev_upper if isinstance(prev_upper, Column) else F.lit(prev_upper)
    v = F.col(value_col)
    with_avgs = _avgs(
        df,
        key_cols,
        {
            "sum_val": F.when(F.col(time_col) > lo, v),
            "prev_sum_val": F.when(F.col(time_col) < hi, v),
        },
        integral=_is_integral(df, value_col),
    )
    return _clamp(
        with_avgs, key_cols, q=q, limit_new=limit_new, clamp_guard=clamp_guard
    ).where((F.col("sum_val").isNotNull()) | (F.col("prev_sum_val").isNotNull()))


def compare_windows(
    cur: DataFrame,
    prev: DataFrame,
    *,
    key_cols: Sequence[str],
    q: float,
    limit_new: int,
    clamp_guard: bool,
    value_col: str = "sum_val",
) -> DataFrame:
    """S3/S4/S5 — left-join current against previous, clamp drops,
    default new keys.

    Output columns: key_cols + [value_col, prev_sum_val, prev_sum_val2].

    * left join on the full key (hha.py:170,184).
    * drop-clamp: if prev/cur > q the baseline is clamped down to
      `limit_new` so recovery-to-normal still triggers. The /32 branch
      additionally requires prev > limit_new (hha.py:191-192); the /24
      branch does NOT (hha.py:177-178) — `clamp_guard` selects which.
    * new keys (join miss) get prev = prev2 = limit_new
      (na.fill, hha.py:179,194).
    """
    prev_renamed = prev.withColumnRenamed(value_col, "prev_sum_val")
    joined = cur.join(prev_renamed, on=list(key_cols), how="left")
    clamp_cond = _safe_ratio(F.col("prev_sum_val"), F.col(value_col)) > F.lit(q)
    if clamp_guard:
        clamp_cond = clamp_cond & (F.col("prev_sum_val") > F.lit(limit_new))
    return joined.select(
        *key_cols,
        F.col(value_col),
        F.coalesce(F.col("prev_sum_val"), F.lit(limit_new)).alias("prev_sum_val"),
        F.coalesce(
            F.when(clamp_cond, F.lit(limit_new)).otherwise(F.col("prev_sum_val")),
            F.lit(limit_new),
        ).alias("prev_sum_val2"),
    )


def spike_filter(
    compared: DataFrame,
    *,
    q: float,
    value_col: str = "sum_val",
) -> DataFrame:
    """S6 — keep rows whose cur/baseline ratio exceeds q.

    Reference hha.py:198,209. A zero baseline yields a NULL ratio and
    the row silently drops (legacy division semantics) — reproduced
    explicitly with nullif so ANSI mode agrees.
    """
    return compared.where(
        _safe_ratio(F.col(value_col), F.col("prev_sum_val2")) > F.lit(q)
    )


def detect_spikes(
    histograms: DataFrame,
    *,
    params: DetectorParams,
    now: int,
    zones: DataFrame | None = None,
    prior_alerts: DataFrame | None = None,
    persist: bool = True,
    fused: bool = True,
) -> DataFrame:
    """Full S1-S8 detection cycle over the histogram fact table.

    Returns alerts with columns
        (num_protocol, type_proto, sum_val, dst_ip, scope)
    where — preserving the reference's (surprising) output shape at
    hha.py:199,210 — `sum_val` carries the BASELINE (prev_sum_val2),
    not the current value, and `dst_ip` holds the /24 network base
    address for scope='net' rows (the reference smuggles it through
    the same positional slot, hha.py:213-214; we keep it LongType and
    add `scope` instead of mixing string/int in one column).

    zones: optional watchlist DataFrame(ip: long) — exact-match
    broadcast semi-join gating (hha.py:237: a /24 alert passes only if
    the network *base address* itself is watchlisted).
    prior_alerts: optional DataFrame with (num_protocol, type_proto,
    dst_ip, detected_at) — alerts already raised within
    `limit_detect_time_sec` are suppressed (hha.py:234-244).
    """
    p = params
    keys = ["num_protocol", "type_proto", "dst_ip"]
    net24 = ip_to_net24("dst_ip")
    if fused:
        # scale path: ONE scan + ONE shuffle produces both window
        # averages and the /32 comparison, and ONE more aggregate over
        # the same persisted frame both /24 windows and their
        # comparison (fused == two-frame proven by
        # tests/test_equivalence.py). Averages are exact BIGINT
        # SUM DIV COUNT on the integral counter.
        base = fused_window_compare(
            histograms, key_cols=keys, value_col="CountPkt",
            time_col="timestamp", cur_lower=now - p.cur_window_sec,
            prev_upper=now - p.prev_window_sec,
            q=p.quotient_amplification, limit_new=p.limit_new_data,
            clamp_guard=True,
        )
        if persist:
            # feeds the /32 filter and the /24 aggregate; without it
            # each branch scans and aggregates the window itself (the
            # planner does not reuse one branch's /32 exchange for the
            # other)
            base = tracked_persist(base)
        ip_cmp = base.where(F.col("sum_val").isNotNull())
        net_cmp = rollup_compare(
            base, group_cols=keys[:2], bucket_expr=net24, bucket_name="dst_net",
            q=p.quotient_amplification, limit_new=p.limit_new_data_net,
        )
    else:
        # reference-shape two-frame path (mirrors the two ReadData
        # calls, hha.py:137,147); kept for parity documentation and
        # for callers whose windows come from different sources.
        # Integral CountPkt averages with the fused path's exact
        # integer kernel, so both branches agree at any scale
        cur = window_averages(
            histograms, key_cols=keys, value_col="CountPkt",
            lower=now - p.cur_window_sec,
        )
        prev = window_averages(
            histograms, key_cols=keys, value_col="CountPkt",
            upper=now - p.prev_window_sec,
        )
        if persist:
            # each frame feeds both the /32 comparison and the /24
            # rollup (replaces recreateDF, hha.py:119-128,155-156)
            cur = tracked_persist(cur)
            prev = tracked_persist(prev)
        ip_cmp = compare_windows(
            cur, prev, key_cols=keys, q=p.quotient_amplification,
            limit_new=p.limit_new_data, clamp_guard=True,
        )
        cur_net = rollup_averages(
            cur, group_cols=keys[:2], bucket_expr=net24, bucket_name="dst_net"
        )
        prev_net = rollup_averages(
            prev, group_cols=keys[:2], bucket_expr=net24, bucket_name="dst_net"
        )
        net_cmp = compare_windows(
            cur_net, prev_net, key_cols=[*keys[:2], "dst_net"],
            q=p.quotient_amplification,
            limit_new=p.limit_new_data_net, clamp_guard=False,
        )

    ip_alerts = spike_filter(ip_cmp, q=p.quotient_amplification).select(
        "num_protocol", "type_proto",
        F.col("prev_sum_val2").alias("sum_val"),  # hha.py:210 aliases baseline as sum_val
        "dst_ip", F.lit("ip").alias("scope"),
    )
    net_alerts = spike_filter(net_cmp, q=p.quotient_amplification).select(
        "num_protocol", "type_proto",
        F.col("prev_sum_val2").alias("sum_val"),  # hha.py:199
        F.col("dst_net").alias("dst_ip"), F.lit("net").alias("scope"),
    )
    alerts = ip_alerts.unionByName(net_alerts)  # S7 (hha.py:213-214), schema-aligned

    if zones is not None:
        # S8 gating — exact membership, pushed below any collect
        alerts = alerts.join(
            F.broadcast(zones.select(F.col("ip").alias("dst_ip"))),
            on="dst_ip", how="left_semi",
        )
    if prior_alerts is not None:
        recent = prior_alerts.where(
            F.col("detected_at") > F.lit(now - p.limit_detect_time_sec)
        ).select("num_protocol", "type_proto", "dst_ip")
        alerts = alerts.join(
            F.broadcast(recent),
            on=["num_protocol", "type_proto", "dst_ip"], how="left_anti",
        )
    return alerts
