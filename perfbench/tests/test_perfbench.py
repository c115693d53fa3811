"""Tests of the benchmark's own machinery (no Spark needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import self_times  # noqa: E402
from stats import (  # noqa: E402
    REF_BASE_S, interquartile_mean, normalized_cpu, quartile_spread, tail, union_length,
)
from tracing import UNITS  # noqa: E402


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_generator_is_byte_identical_for_a_seed(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    files = _tree(a)
    assert files and files == _tree(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert differ, "another seed must give other inputs"


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct = tail(xs)
    assert value == 30.0
    assert sum(x > value for x in xs) == 10
    assert pct == 75.0
    # one more sample moves the tail up one rank, never below ten beyond
    value, pct = tail(xs + [41.0])
    assert value == 31.0 and sum(x > value for x in xs + [41.0]) == 10
    # eleven samples: the smallest has ten beyond it
    eleven = [float(i) for i in range(11)]
    assert tail(eleven) == (0.0, pytest.approx(100 / 11))
    # too few samples for any percentile: the maximum, at p100
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail(eleven[:10]) == (9.0, 100.0)


def test_self_time_subtracts_children_on_nested_spans():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)  # children cover [1,6] and [9,10]
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(3.0)


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)


def test_quartile_spread_matches_the_statistics_module():
    vals = [1.0, 1.1, 0.9, 1.05, 0.95, 1.0, 1.2, 0.8, 1.0, 1.02]
    assert quartile_spread(vals) == pytest.approx((1.0625 - 0.9375) / 1.0, rel=1e-3)


def test_normalized_cpu_divides_whole_run_statistics_not_each_cycle():
    assert interquartile_mean([9.0, 1.0, 2.0, 3.0, 4.0, 0.0, 5.0, 6.0]) == pytest.approx(3.5)
    refs = [[0.10, 0.12], [0.05, 0.08], [0.20, 0.09]]
    ops = [{"cpu_s": c, "ref_s": r} for c, r in zip([1.0, 2.0, 3.0], refs)]
    # median CPU 2.0 s; the six references less one at each end: 0.08-0.12
    assert normalized_cpu(ops) == pytest.approx(2.0 * REF_BASE_S / (0.39 / 4))
    # a host twice as slow doubles both and leaves the metric alone
    slow = [{"cpu_s": 2 * o["cpu_s"], "ref_s": [2 * r for r in o["ref_s"]]} for o in ops]
    assert normalized_cpu(slow) == pytest.approx(normalized_cpu(ops))


def test_failed_frac_counts_a_forced_mismatch(tmp_path):
    inputs = str(tmp_path / "in")
    m = gen.generate("cycle_steady", 3, inputs)
    nows = [m["now0"] + 10 * k for k in range(4)]
    ref = oracle.CycleOracle(inputs, nows)
    cycles = [{"k": k, "now": now, "rules": ref.rules(now)} for k, now in enumerate(nows)]
    assert any(c["rules"] for c in cycles), "planted spikes must raise rules"
    bad, problems, counts = oracle.check_cycles(inputs, cycles)
    assert bad == [] and problems == [] and len(counts) == 4
    # corrupt one rule of one cycle: exactly that cycle fails
    victim = next(c for c in cycles if c["rules"])
    victim["rules"][0] = dict(victim["rules"][0], sum_val=victim["rules"][0]["sum_val"] + 1)
    bad, problems, _ = oracle.check_cycles(inputs, cycles)
    assert bad == [victim["k"]] and len(problems) == 1


def test_benchmark_json_lists_every_reported_metric():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == UNITS
    names = {m["name"] for m in spec["end_to_end"]}
    assert names == {"cycle_cpu_norm_s", "setup_s", "peak_rss_mb"}
    assert [w["name"] for w in spec["workloads"]] == sorted(gen.SPECS)
