"""The oracle check accepts an exact answer and rejects corrupted ones."""

from __future__ import annotations

import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH_DIR), BENCH_DIR]

from workloads import expected_checks, frames_match, normalize  # noqa: E402


def _oracle() -> pd.DataFrame:
    return pd.DataFrame({
        "fighter": ["Alex One", "Maria Two", "Chen Three"],
        "wins": [12, 9, 9],
        "win_pct": [0.75, 0.5625, None],
    })


def test_exact_answer_in_any_row_and_column_order_matches():
    got = _oracle().iloc[[2, 0, 1]][["win_pct", "wins", "fighter"]]
    assert frames_match(got, normalize(_oracle()))


def test_corrupted_value_is_rejected():
    got = _oracle()
    got.loc[1, "wins"] = 10
    assert not frames_match(got, normalize(_oracle()))


def test_float_drift_beyond_tolerance_is_rejected_within_is_accepted():
    got = _oracle()
    got.loc[0, "win_pct"] = 0.75 * (1 + 1e-9)
    assert frames_match(got, normalize(_oracle()))
    got.loc[0, "win_pct"] = 0.76
    assert not frames_match(got, normalize(_oracle()))


def test_missing_row_extra_column_and_null_swap_are_rejected():
    assert not frames_match(_oracle().iloc[:2], normalize(_oracle()))
    assert not frames_match(_oracle().assign(extra=1), normalize(_oracle()))
    got = _oracle()
    got.loc[2, "win_pct"] = 0.0
    assert not frames_match(got, normalize(_oracle()))


def test_expected_check_counts():
    frame = normalize(pd.DataFrame({"k": ["a", "a", "b", None, None], "v": [1, None, 2, 3, 4]}))
    rules = {"not_null": ["k", "v"], "unique": [["k"]]}
    assert expected_checks(frame, rules) == {"not_null:k": 2, "not_null:v": 1, "unique:k": 2}
