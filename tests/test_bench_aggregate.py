"""bench.py aggregate_runs — the pure median-of-N artifact logic
(r15 verdict item 4). The aggregation math is a plain function a unit
test can hold still while the harness around it evolves."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import aggregate_runs  # noqa: E402


def test_median_and_spread():
    timings, exempt, spread, errors, flaky = aggregate_runs(
        {"q_a": [1.0, 5.0, 2.0], "q_stream_x": [3.0, 3.5, 9.0]}, [{}] * 3
    )
    assert timings == {"q_a": 2.0}
    assert exempt == {"q_stream_x": 3.5}  # stream split by prefix
    assert spread == {"q_a": [1.0, 5.0], "q_stream_x": [3.0, 9.0]}
    assert errors == {} and flaky == {}


def test_even_sample_count_uses_midpoint():
    timings, _e, spread, _err, _f = aggregate_runs(
        {"q_a": [1.0, 3.0]}, [{}, {}]
    )
    assert timings == {"q_a": 2.0}
    assert spread["q_a"] == [1.0, 3.0]


def test_flaky_keeps_samples_hard_error_does_not():
    timings, _e, _s, errors, flaky = aggregate_runs(
        {"q_flaky": [4.0, 4.2]},
        [
            {"q_flaky": "OOM: run 0", "q_dead": "AnalysisException: x"},
            {"q_dead": "AnalysisException: x"},
            {},
        ],
    )
    # flaky: errored once but has samples — median of what succeeded,
    # flagged with its failure count
    assert timings == {"q_flaky": 4.1}
    assert flaky == {"q_flaky": 1}
    # dead: zero successful samples — an errors row, nowhere else
    assert errors == {"q_dead": "AnalysisException: x"}
    assert "q_dead" not in timings


def test_single_run_degenerates_to_identity():
    timings, exempt, spread, errors, flaky = aggregate_runs(
        {"q_a": [1.234]}, [{}]
    )
    assert timings == {"q_a": 1.234}
    assert spread == {"q_a": [1.234, 1.234]}
    assert not exempt and not errors and not flaky
