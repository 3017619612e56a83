"""The perfbench pair summary of ``scripts/tree_ab.py`` on canned records:
medians, quartiles, wins in each metric's direction, and the spread check
against the metric's bound. No Spark."""

import importlib.util
import os

_TREE_AB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "tree_ab.py",
)

END_TO_END = [
    {"name": "latency_p50_s", "better": "lower", "bound": 0.25},
    {"name": "throughput_tweets_per_s", "better": "higher", "bound": 0.25},
]


def _load():
    spec = importlib.util.spec_from_file_location("tree_ab", _TREE_AB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rec(pair, side, p50, tput, failed=0):
    return {
        "pair": pair,
        "seed": 100 + pair,
        "side": side,
        "rc": 0,
        "failed": failed,
        "metrics": {
            "latency_p50_s": {"value": p50, "unit": "s"},
            "throughput_tweets_per_s": {"value": tput, "unit": "tweets/s"},
        },
    }


def test_perfbench_summary_on_canned_pairs():
    tree_ab = _load()
    a_p50 = [20.0, 22.0, 19.0, 21.0, 30.0]
    b_p50 = [14.0, 13.0, 15.0, 12.0, 31.0]
    records = []
    for k, (x, y) in enumerate(zip(a_p50, b_p50)):
        records += [_rec(k, "a", x, 7.0 + k), _rec(k, "b", y, 10.0 - k, failed=k == 4)]
    # a run without a result counts as such and joins no pair
    records.append({"pair": 5, "seed": 105, "side": "a", "rc": 1, "error": "boom"})
    records.append(_rec(5, "b", 1.0, 99.0))

    s = tree_ab.summarize(records, END_TO_END)

    p50 = s["latency_p50_s"]
    assert p50["pairs"] == 5
    assert p50["a_median"] == 21.0 and p50["b_median"] == 14.0
    assert p50["a_iqr"] == [20.0, 22.0] and p50["b_iqr"] == [13.0, 15.0]
    assert p50["b_over_a"] == round(14.0 / 21.0, 3)
    assert p50["b_wins"] == 4  # lower is better; pair 4 lost
    assert p50["a_spread"] == round(2.0 / 21.0, 3) and p50["resolved"] is True

    tput = s["throughput_tweets_per_s"]
    # a: 7..11, b: 10..6; higher is better, b wins pairs 0 and 1
    assert tput["b_wins"] == 2
    assert tput["a_median"] == 9.0 and tput["b_median"] == 8.0
    assert tput["a_spread"] == round(2.0 / 9.0, 3) and tput["resolved"] is True

    assert s["runs"] == {
        "a": {"runs": 6, "failed": 0, "no_result": 1},
        "b": {"runs": 6, "failed": 1, "no_result": 0},
    }


def test_perfbench_summary_flags_a_spread_past_the_bound():
    tree_ab = _load()
    a_p50 = [10.0, 20.0, 30.0, 40.0]
    records = []
    for k, x in enumerate(a_p50):
        records += [_rec(k, "a", x, 5.0), _rec(k, "b", x - 1, 5.0)]
    s = tree_ab.summarize(records, END_TO_END)
    assert s["latency_p50_s"]["b_wins"] == 4
    assert s["latency_p50_s"]["resolved"] is False  # IQR 17.5-32.5 over 25
    assert s["throughput_tweets_per_s"]["b_wins"] == 0  # ties are no wins
