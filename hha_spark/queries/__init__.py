"""Registry of driver-facing queries and their DuckDB oracles.

Each module contributes (name -> callable(spark, sf_dir) -> DataFrame)
and (name -> ANSI SQL string). The driver runs both at sf0.01 and
hash-compares row values, so every computed column is aliased to the
same name on both sides and all arithmetic is cross-engine
deterministic (see functions/exact.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hha_spark.queries import (
    corpus,
    curation,
    embedding_ops,
    llm_ops,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    scoring,
    sketches,
    spike_events,
    streaming_gate,
    temporal,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = (
    llm_ops,
    streaming_gate,
    temporal,
    corpus,
    relational6,
    relational7,
    spike_events,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    # round-4 additions sit LAST: the driver's round-4 window is
    # reserved for the never-checked 50; these (plus dq_orders_report,
    # position 51) rotate to the front in round 5
    curation,
    sketches,
    scoring,
    embedding_ops,
)

# Order is the driver's verification window: it oracle-checks the FIRST
# 50 names yielded. Current rotation: positions 1-5 are the spike
# queries whose kernel changed (operators/spike.py: integer-exact
# fused averages, the one-aggregate bucket rollup) and the streaming
# detector gate, whose epoch now appends its collected alerts;
# positions 6-13 are the other gates whose code changed with the
# single stream starter (streaming/runner.py::start_file_stream) and
# the public store module (streaming/store.py). Positions 14-47 are
# the 34 rows whose last driver check is the round-7 window (the
# oldest in the registry), in name order; positions 48-50 are the
# first 3 round-8-vintage rows in name order.
# The CORRECTNESS_r*.json artifacts give each name's last checked
# round. Names here that fall out of the registry are ignored
# defensively; queries not listed follow in module order.
_NEVER_CHECKED_FIRST = (
    # -- 5 spike queries on the changed detector kernel --
    "spike_events_alerts", "spike_events_compare", "spike_events_gated",
    "spike_events_net_rollup", "stream_spike_alerts",
    # -- 8 gates on the new stream starter / store API --
    "stream_sessionize_incremental", "stream_sessionize_disorder",
    "stream_attribution_disorder", "stream_curation_funnel",
    "stream_curation_compacted", "stream_curation_spilled",
    "stream_cms_heavy", "stream_temperature_mixture",
    # -- 34 round-7-vintage rows, name order --
    "event_value_stats", "events_json_extract",
    "events_pairs_within_30min", "events_session_window",
    "events_sessionize", "events_value_histogram",
    "lineitem_measures_unpivot", "lineitem_price_qty_corr",
    "lineitem_status_pivot", "median_qty_per_flag",
    "nation_region_rollup", "nations_customers_only",
    "nations_with_both", "order_gap_days", "orders_by_month",
    "orders_cube", "orders_grouping_sets", "orders_with_big_lineitem",
    "part_size_classes", "q12_priority_lines", "q14_promo_revenue",
    "q17_small_quantity_revenue", "q18_large_volume_customers",
    "q21_exclusive_returns", "q22_inactive_rich_customers",
    "q3_shipping_priority", "q4_priority_returns",
    "q5_local_supplier_volume", "q7_volume_shipping",
    "sql_nation_revenue", "stratified_sample_docs",
    "suppliers_in_rich_nations", "top3_customers_per_nation",
    "top_revenue_orders",
    # -- first 3 round-8-vintage rows, name order --
    "ann_ivf_recall", "ann_topk_ivf_trained", "benchmark_contamination",
)


def _ordered(full: dict) -> dict:
    first = {n: full[n] for n in _NEVER_CHECKED_FIRST if n in full}
    first.update(full)  # remaining names keep module order
    return first


def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return _ordered(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return _ordered(out)
