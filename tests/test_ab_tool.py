"""Verdicts of the A/B harness (``tools/ab.py``) over synthetic pairs:
no Spark and no git, only its pure summary function and the metric
spec it reads from ``BENCHMARK.json``."""

from __future__ import annotations

import importlib.util
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_ab():
    spec = importlib.util.spec_from_file_location(
        "ab", os.path.join(_REPO, "tools", "ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _load_ab()
SPEC = {"point_p50_s": {"better": "lower", "bound": 0.25},
        "events_per_s": {"better": "higher", "bound": 0.25}}


def _result(failed=0, **values):
    return {"failed": failed, "metrics": {k: {"value": v} for k, v in values.items()}}


def _pairs(metric, parent, change):
    return [(_result(**{metric: p}), _result(**{metric: c})) for p, c in zip(parent, change)]


def test_spec_is_read_from_benchmark_json():
    command, spec = ab.load_benchmark()
    assert command[-1] == "perfbench/run.py"
    assert spec["events_per_s"] == {"better": "higher", "bound": 0.25}
    assert spec["lake.prune_ratio"]["bound"] is None  # per-layer: no bound


def test_lower_is_better_ten_of_ten_wins_is_a_gain():
    parent = [0.405, 0.447, 0.422, 0.446, 0.456, 0.565, 0.400, 0.501, 0.460, 0.683]
    change = [0.124, 0.135, 0.124, 0.142, 0.115, 0.113, 0.111, 0.148, 0.165, 0.148]
    m = ab.summarize(_pairs("point_p50_s", parent, change), SPEC)["metrics"]["point_p50_s"]
    assert (m["change_wins"], m["parent_wins"]) == (10, 0)
    assert round(m["parent_median"], 4) == 0.4515
    assert round(m["parent_iqr"], 3) == 0.063  # inclusive quartiles 0.428-0.491
    assert m["gain"] is True
    assert m["no_regression"] == "ok"


def test_eight_of_ten_wins_is_not_a_gain():
    parent = [1.0] * 10
    change = [0.5] * 8 + [1.2, 1.2]
    m = ab.summarize(_pairs("point_p50_s", parent, change), SPEC)["metrics"]["point_p50_s"]
    assert (m["change_wins"], m["parent_wins"]) == (8, 2)
    assert m["change_median"] < m["parent_median"] - m["parent_iqr"]
    assert m["gain"] is False


def test_ties_count_for_neither_side():
    parent = [1.0, 1.0, 1.0, 2.0]
    change = [1.0, 1.0, 0.9, 2.5]
    m = ab.summarize(_pairs("point_p50_s", parent, change), SPEC)["metrics"]["point_p50_s"]
    assert (m["change_wins"], m["parent_wins"]) == (1, 1)
    assert m["gain"] is False


def test_higher_is_better_median_past_the_bound_is_a_regression():
    parent = [1000.0, 1010.0, 990.0, 1005.0]
    change = [700.0, 720.0, 690.0, 710.0]  # -29%, bound 25%
    m = ab.summarize(_pairs("events_per_s", parent, change), SPEC)["metrics"]["events_per_s"]
    assert m["parent_wins"] == 4
    assert m["no_regression"] == "regression"
    near = [900.0, 905.0, 880.0, 910.0]  # -10%: inside the bound
    m = ab.summarize(_pairs("events_per_s", parent, near), SPEC)["metrics"]["events_per_s"]
    assert m["no_regression"] == "ok"


def test_parent_spread_wider_than_the_bound_is_unresolved():
    parent = [1.0, 2.0, 1.0, 2.0]  # IQR 1.0 over median 1.5: 0.67 > 0.25
    change = [1.5, 1.5, 1.5, 1.5]
    m = ab.summarize(_pairs("point_p50_s", parent, change), SPEC)["metrics"]["point_p50_s"]
    assert m["no_regression"] == "unresolved"
    # ... unless every change run reads better than every parent run
    m = ab.summarize(_pairs("point_p50_s", parent, [0.5] * 4), SPEC)["metrics"]["point_p50_s"]
    assert m["no_regression"] == "ok"


def test_failed_operations_and_missing_runs_are_reported_per_side():
    pairs = [(_result(point_p50_s=1.0), _result(failed=2, point_p50_s=0.9)),
             (_result(point_p50_s=1.0), None)]
    out = ab.summarize(pairs, SPEC)
    assert out["pairs"] == 2
    assert out["failed"] == {"parent": 0, "change": 3}  # 2 failed ops + 1 run without a result
    m = out["metrics"]["point_p50_s"]
    assert m["change"] == [0.9, None]
    assert (m["change_wins"], m["parent_wins"]) == (1, 0)
    assert m["gain"] is False  # 1 win of 2 pairs run
