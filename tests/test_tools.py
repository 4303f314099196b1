"""Command-line parsing of the measurement scripts under ``tools/``."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from time_queries import parse_args  # noqa: E402


@pytest.mark.parametrize(
    "argv",
    [
        ["/d/sf0.1", "q1", "--reps", "3", "q2"],
        ["/d/sf0.1", "q1", "q2", "--reps=3"],
        ["--reps", "3", "/d/sf0.1", "q1", "q2"],
    ],
)
def test_time_queries_reps_both_forms(argv):
    assert parse_args(argv) == ("/d/sf0.1", ["q1", "q2"], 3)


def test_time_queries_default_reps():
    assert parse_args(["q1"])[1:] == (["q1"], 2)
