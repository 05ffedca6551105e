"""The claim rule of tools/ab_perfbench.py on synthetic pairs: at least
ten pairs, nine in ten won, and medians further apart than the base's
interquartile range, in the metric's ``better`` direction."""

import importlib.util
import os

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab_perfbench.py")
spec = importlib.util.spec_from_file_location("ab_perfbench", TOOL)
ab = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ab)

LATENCY = {"name": "first_ms.mean", "unit": "ms", "better": "lower"}
RATE = {"name": "requests_per_s", "unit": "1/s", "better": "higher"}


def _pairs(base, change, name):
    return [
        {"base": {"metrics": {name: {"value": b}}}, "change": {"metrics": {name: {"value": c}}}}
        for b, c in zip(base, change)
    ]


def test_claim_holds_for_a_clear_win():
    base = [770, 760, 790, 780, 775, 765, 785, 770, 780, 772]
    s = ab.summarize(LATENCY, _pairs(base, [b - 150 for b in base], LATENCY["name"]))
    assert s["change_wins"] == 10 and s["claim_holds"]
    assert s["change_median"] < s["base_median"]


def test_claim_needs_nine_in_ten_wins():
    base = [770, 760, 790, 780, 775, 765, 785, 770, 780, 772]
    change = [b - 150 for b in base[:8]] + [b + 1 for b in base[8:]]
    s = ab.summarize(LATENCY, _pairs(base, change, LATENCY["name"]))
    assert s["change_wins"] == 8 and not s["claim_holds"]


def test_claim_needs_medians_apart_by_more_than_base_iqr():
    base = [700, 900, 650, 950, 800, 720, 880, 690, 910, 800]
    s = ab.summarize(LATENCY, _pairs(base, [b - 20 for b in base], LATENCY["name"]))
    assert s["change_wins"] == 10 and not s["claim_holds"]


def test_claim_follows_the_better_direction_and_needs_ten_pairs():
    base = [5.0, 5.1, 4.9, 5.2, 5.0, 4.8, 5.1, 5.0, 4.9, 5.0]
    s = ab.summarize(RATE, _pairs(base, [b + 1 for b in base], RATE["name"]))
    assert s["change_wins"] == 10 and s["claim_holds"]
    s = ab.summarize(RATE, _pairs(base[:9], [b + 1 for b in base[:9]], RATE["name"]))
    assert not s["claim_holds"]
