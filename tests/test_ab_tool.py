"""tools/ab.py: the pairwise statistics behind a claim of gain, on
fixed numbers."""

from __future__ import annotations

import pytest

from tools.ab import compare, quartiles, summarize


def test_quartiles_interpolate():
    assert quartiles([9, 1, 5, 3, 7, 2, 8, 4, 6]) == (3, 5, 7)
    assert quartiles([1, 2, 3, 4]) == (1.75, 2.5, 3.25)
    assert quartiles([4.2]) == (4.2, 4.2, 4.2)


def test_claim_holds_on_ten_clear_wins():
    base = [9.34, 9.35, 9.36, 9.37, 9.35, 9.34, 9.36, 9.35, 9.37, 9.36]
    change = [3.69, 3.70, 3.69, 3.70, 3.70, 3.69, 3.70, 3.69, 3.70, 3.70]
    c = compare(base, change, "lower")
    assert (c["wins"], c["ties"], c["pairs"], c["claim"]) == (10, 0, 10, True)
    assert c["base"][1] == pytest.approx(9.355)
    assert c["change"][1] == pytest.approx(3.70)


def test_claim_needs_nine_of_ten_wins():
    base = [10.0] * 10
    change = [9.0] * 8 + [10.0, 11.0]  # 8 wins, 1 tie, 1 loss
    c = compare(base, change, "lower")
    assert (c["wins"], c["ties"], c["claim"]) == (8, 1, False)
    c = compare(base, [9.0] * 9 + [11.0], "lower")
    assert (c["wins"], c["claim"]) == (9, True)


def test_claim_needs_ten_pairs():
    c = compare([10.0] * 9, [5.0] * 9, "lower")
    assert (c["wins"], c["claim"]) == (9, False)
    c = compare([10.0], [5.0], "lower")
    assert (c["wins"], c["claim"]) == (1, False)


def test_claim_needs_median_gap_beyond_base_iqr():
    # the change wins every pair, but by less than the base's spread
    base = [10, 14, 18, 22, 26, 30, 34, 38, 42, 46]
    change = [b - 1 for b in base]
    c = compare(base, change, "lower")
    assert c["wins"] == 10
    assert c["base"][2] - c["base"][0] == 18  # iqr 19..37
    assert c["claim"] is False


def test_higher_is_better_flips_the_sign():
    base = [100.0] * 10
    c = compare(base, [130.0] * 10, "higher")
    assert (c["wins"], c["claim"]) == (10, True)
    c = compare(base, [70.0] * 10, "higher")
    assert (c["wins"], c["claim"]) == (0, False)


def test_failed_run_leaves_its_pair_out_and_voids_the_claim():
    metrics = [{"name": "write_mb_per_unit", "better": "lower"}]

    def run(value):
        return {"correct": True, "failed": 0,
                "metrics": {"write_mb_per_unit": {"value": value}}}

    failed = {"correct": False, "attempted": 0, "failed": 1, "metrics": {}}
    runs = {"base": [run(9.35)] * 11, "change": [run(3.70)] * 10 + [failed]}
    rows, left_out = summarize(runs, metrics)
    assert left_out == 1
    [(name, c)] = rows
    assert (name, c["pairs"], c["wins"], c["claim"]) == ("write_mb_per_unit", 10, 10, False)
    runs["change"][-1] = run(3.70)
    [(_, c)] = summarize(runs, metrics)[0]
    assert (c["pairs"], c["claim"]) == (11, True)
    assert summarize({"base": [failed], "change": [run(3.70)]}, metrics) == ([], 1)
