#!/usr/bin/env python3
"""Unit test of the A/B verdict arithmetic in tools/perfbench_ab.py.
Run: python3 tools/test_perfbench_ab.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(__file__))
from perfbench_ab import quartiles, verdict  # noqa: E402


def test_quartiles_inclusive():
    assert quartiles([1, 2, 3, 4, 5]) == (2, 3, 4)
    assert quartiles([1, 2, 3, 4]) == (1.75, 2.5, 3.25)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_clear_gain_higher_is_better():
    parent = [100, 102, 98, 101, 99, 100, 103, 97, 100, 101]
    change = [130, 128, 131, 129, 127, 133, 130, 126, 132, 129]
    v = verdict(parent, change, "higher", 0.25)
    assert v["change_wins"] == 10 and v["parent_wins"] == 0
    assert v["gain"] and v["within_bound"]


def test_eight_of_ten_wins_is_no_gain():
    parent = [100] * 10
    change = [120] * 8 + [90, 90]
    v = verdict(parent, change, "higher", 0.25)
    assert v["change_wins"] == 8 and v["parent_wins"] == 2
    assert not v["gain"]


def test_nine_of_ten_wins_but_median_inside_parent_iqr_is_no_gain():
    parent = [90, 95, 100, 105, 110, 90, 95, 100, 105, 110]   # IQR 10
    change = [p + 1 for p in parent[:9]] + [80]                # +1 each, one loss
    v = verdict(parent, change, "higher", 0.25)
    assert v["change_wins"] == 9
    assert v["parent_iqr"] == 10 and abs(v["median_delta"]) < 10
    assert not v["gain"]


def test_ties_count_for_neither_side():
    parent = [1.0, 1.0, 1.0, 1.0]
    change = [0.5, 0.5, 1.0, 1.0]
    v = verdict(parent, change, "lower", 0.25)
    assert v["change_wins"] == 2 and v["parent_wins"] == 0
    assert not v["gain"]  # 2 of 4 is below nine tenths


def test_lower_is_better_gain_and_bound():
    parent = [0.40, 0.41, 0.39, 0.40, 0.42, 0.38, 0.40, 0.41, 0.39, 0.40]
    change = [0.30, 0.31, 0.29, 0.30, 0.32, 0.28, 0.30, 0.31, 0.29, 0.30]
    v = verdict(parent, change, "lower", 0.25)
    assert v["gain"] and v["within_bound"] and v["median_rel"] < 0
    # the other direction: a 30% slower change is outside a 25% bound
    w = verdict(parent, [x * 1.3 for x in parent], "lower", 0.25)
    assert not w["gain"] and not w["within_bound"]
    assert w["parent_wins"] == 10


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print(f"ok {name}")
