"""Tests for ``tools/measure.py``: the A/B aggregation (pure, no Spark),
the span hooks it shares with ``perfbench/layers.py``, and one
``profile`` run end to end in its own process."""

import importlib
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import pytest  # noqa: E402
from measure import (  # noqa: E402
    PROFILE_FIELDS,
    ab_summary,
    copy_levels,
    profile_queries,
)

import layers  # noqa: E402  (perfbench/, put on sys.path by measure)


def test_ab_medians_ratios_and_geomean():
    s = ab_summary(
        {"q_a": [2.0, 4.0, 3.0], "q_b": [1.0]},
        {"q_a": [1.5, 1.4, 1.6], "q_b": [2.0, 2.0]},
    )
    assert s["base_median_sec"] == {"q_a": 3.0, "q_b": 1.0}
    assert s["head_median_sec"] == {"q_a": 1.5, "q_b": 2.0}
    assert s["ratio_head_over_base"] == {"q_a": 0.5, "q_b": 2.0}
    assert s["n_common"] == 2
    assert s["geomean_ratio"] == 1.0  # sqrt(0.5 * 2.0)
    assert s["median_ratio"] == 1.25  # midpoint of 0.5 and 2.0


def test_ab_even_sample_count_uses_midpoint():
    s = ab_summary({"q_a": [1.0, 2.0]}, {"q_a": [3.0, 5.0]})
    assert s["base_median_sec"] == {"q_a": 1.5}
    assert s["head_median_sec"] == {"q_a": 4.0}
    assert s["ratio_head_over_base"] == {"q_a": 2.6667}


def test_ab_query_missing_on_one_side_is_left_out_of_the_ratios():
    """A query only one side timed (added, removed or errored) keeps its
    median on that side but enters neither the ratios nor the geomean."""
    s = ab_summary(
        {"q_a": [1.0], "q_old": [9.0]},
        {"q_a": [0.5], "q_new": [0.1]},
    )
    assert s["n_common"] == 1
    assert s["ratio_head_over_base"] == {"q_a": 0.5}
    assert s["geomean_ratio"] == 0.5 and s["median_ratio"] == 0.5
    assert "q_old" in s["base_median_sec"] and "q_new" in s["head_median_sec"]


def test_ab_zero_base_median_has_no_ratio():
    s = ab_summary({"q_a": [0.0], "q_b": [2.0]}, {"q_a": [0.1], "q_b": [1.0]})
    assert s["n_common"] == 2
    assert s["ratio_head_over_base"] == {"q_b": 0.5}


def test_ab_no_common_queries():
    s = ab_summary({"q_a": [1.0]}, {"q_b": [1.0]})
    assert s["n_common"] == 0
    assert s["geomean_ratio"] is None and s["median_ratio"] is None


def test_trace_hooks_resolve_and_restore():
    """Every method the traced run wraps is still defined on the class it
    is looked up on (a renamed or moved one fails every ``--trace 1`` run
    with a KeyError), and the undo puts every original back. No Spark
    session is started."""

    def targets():
        return {
            (cls_name, name): vars(getattr(
                importlib.import_module(f"{layers.PACKAGE}.{mod}"), cls_name
            ))[name]
            for _, mod, cls_name, name in layers._METHOD_TARGETS
        }

    before = targets()
    restore = layers.install(layers.Tracer())
    try:
        wrapped = targets()
    finally:
        restore()
    assert all(wrapped[k] is not fn for k, fn in before.items())
    assert targets() == before


def test_copy_levels_compose_at_most_ten_per_level():
    """The k{i} token prefix is unambiguous for <= 10 copies, so larger
    counts are built as copies of copies."""
    assert copy_levels(1) == [1]
    assert copy_levels(10) == [10]
    assert copy_levels(100) == [10, 10]
    assert copy_levels(50) == [10, 5]
    with pytest.raises(ValueError):
        copy_levels(11)


def test_no_tracked_python_file_names_this_checkout():
    """Code resolves the checkout from ``__file__``: a hard-coded checkout
    path makes a copy elsewhere (an A/B base worktree) import this
    checkout's engine instead of its own."""
    proc = subprocess.run(
        ["git", "grep", "-n", "-F", ROOT, "--", "*.py"],
        cwd=ROOT, capture_output=True, text=True,
    )
    if proc.returncode not in (0, 1):
        pytest.skip(f"not a git checkout: {proc.stderr.strip()}")
    assert proc.stdout == ""


def test_profile_runs_stream_drains_only_when_named():
    default = profile_queries([])
    assert "q_charge_summary" in default
    assert not [n for n in default if n.startswith("q_stream_")]
    named = profile_queries(["q_stream_tumbling", "q_charge_summary"])
    assert list(named) == ["q_stream_tumbling", "q_charge_summary"]
    with pytest.raises(SystemExit):
        profile_queries(["q_pipeline_provider_charge_summary"])


def test_profile_reports_every_field(tmp_path):
    out = tmp_path / "profile.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "measure.py"),
         "profile", "q_charge_summary", "q_stream_tumbling",
         "--sf", "/root/testdata/sf0.001", "--out", str(out)],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    doc = json.loads(out.read_text())
    assert doc["errors"] == {}
    assert doc["engine"] == os.path.join(
        os.path.realpath(ROOT), "gcp_healthcare_data_pipeline_spark"
    )
    q = doc["queries"]["q_charge_summary"]
    assert set(q) == set(PROFILE_FIELDS)
    assert q["rows"] > 0
    assert q["construct_s"] > 0 and q["execute_s"] > 0
    assert q["spark.jobs"] >= 1 and q["spark.stages"] >= 1
    assert 0.0 <= q["functions.codegen_share"] <= 1.0
    # a named drain is profiled like a batch query; it drains while its
    # frame is built
    s = doc["queries"]["q_stream_tumbling"]
    assert set(s) == set(PROFILE_FIELDS)
    assert s["rows"] > 0 and s["construct_jobs"] >= 1
