from hha_spark.operators.spike import (
    compare_windows,
    detect_spikes,
    rollup_averages,
    rollup_compare,
    spike_filter,
    window_averages,
)

__all__ = [
    "window_averages",
    "rollup_averages",
    "rollup_compare",
    "compare_windows",
    "spike_filter",
    "detect_spikes",
]
