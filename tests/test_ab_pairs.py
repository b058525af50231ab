"""``tools/ab_pairs.py``'s claim rule: a gain qualifies when the change
wins at least 9 of 10 pairs and its median beats the parent's by more
than the parent's interquartile range."""

import importlib.util
import pathlib

TOOL = pathlib.Path(__file__).resolve().parents[1] / "tools" / "ab_pairs.py"
spec = importlib.util.spec_from_file_location("ab_pairs", TOOL)
ab_pairs = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ab_pairs)

PARENT = [100.0, 101.0, 102.0, 103.0, 104.0, 105.0, 106.0, 107.0, 108.0, 109.0]  # IQR 4.5


def test_nine_wins_and_a_gain_beyond_the_iqr_qualify():
    change = [p + 10 for p in PARENT[:9]] + [PARENT[9] - 1]
    assert ab_pairs.claim(PARENT, change, "higher").startswith("claim QUALIFIES")


def test_eight_wins_do_not_qualify():
    change = [p + 10 for p in PARENT[:8]] + [p - 1 for p in PARENT[8:]]
    assert ab_pairs.claim(PARENT, change, "higher").startswith("claim no")


def test_a_gain_inside_the_iqr_does_not_qualify():
    change = [p + 1 for p in PARENT]  # 10/10 wins, median +1 < IQR 4.5
    assert ab_pairs.claim(PARENT, change, "higher").startswith("claim no")


def test_lower_is_better_metrics_gain_downwards():
    change = [p - 10 for p in PARENT]
    assert ab_pairs.claim(PARENT, change, "lower").startswith("claim QUALIFIES")
    assert ab_pairs.claim(PARENT, change, "higher").startswith("claim no")
