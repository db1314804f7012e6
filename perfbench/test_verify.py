"""The benchmark's verifier catches wrong answers.

    python3 -m pytest perfbench/test_verify.py -q

Feeds the checks a truncated range response, a reordered one, a wrong
value, and an analytics result whose digest differs from its oracle's,
and confirms each is reported as a failure and counted against the run.
No Spark needed.
"""

from __future__ import annotations

import json
import os
import random

from perfbench.harness import END_TO_END, ROOT, Run, percentile
from perfbench.layers import PER_LAYER
from perfbench.verify import PointSpec, check_digest, check_points, digest

SPEC = PointSpec.from_seed(random.Random(7), 1_700_000_000_000, 20_000, ("b", "a"))


def _response(lo, hi, metric, limit=10_000):
    """What a correct ``api.query_points`` returns, built from the spec."""
    return [{"timestamp": t, "value": v} for t, v in SPEC.expected(lo, hi, metric, limit)]


def test_expected_follows_query_semantics():
    lo = SPEC.start_ms + 1000
    hi = lo + 4000
    got = SPEC.expected(lo, hi, None, 10_000)
    # inclusive bounds, ordered by (ts, metric name), both metrics
    assert [t for t, _ in got] == [t for t in range(lo, hi + 1, 1000) for _ in range(2)]
    assert got[0][1] == SPEC.value(1, 1)  # "a" sorts before "b"
    assert len(SPEC.expected(SPEC.start_ms, SPEC.end_ms, None, 10_000)) == 10_000
    assert SPEC.expected(SPEC.end_ms + 1, SPEC.end_ms + 5000, "a", 10_000) == []


def test_correct_range_response_passes():
    lo, hi = SPEC.start_ms + 5_000, SPEC.start_ms + 3_600_000
    assert check_points(_response(lo, hi, "a"), SPEC.expected(lo, hi, "a", 10_000), lo, hi) is None


def test_truncated_range_response_fails():
    lo, hi = SPEC.start_ms, SPEC.start_ms + 3_599_000
    resp = _response(lo, hi, "b")[:-1]
    assert "count" in check_points(resp, SPEC.expected(lo, hi, "b", 10_000), lo, hi)


def test_reordered_or_wrong_range_response_fails():
    lo, hi = SPEC.start_ms, SPEC.start_ms + 60_000
    want = SPEC.expected(lo, hi, "a", 10_000)
    swapped = _response(lo, hi, "a")
    swapped[3], swapped[4] = swapped[4], swapped[3]
    assert check_points(swapped, want, lo, hi) is not None
    wrong = _response(lo, hi, "a")
    wrong[10] = {"timestamp": wrong[10]["timestamp"], "value": wrong[10]["value"] + 0.01}
    assert check_points(wrong, want, lo, hi) is not None
    outside = _response(lo, hi, "a")
    outside[-1] = {"timestamp": hi + 1000, "value": outside[-1]["value"]}
    assert "outside" in check_points(outside, want, lo, hi)


def test_digest_is_order_insensitive_and_catches_changes():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    want = digest(["v", "k"], [(r[1], r[0]) for r in reversed(rows)])
    assert check_digest(digest(cols, rows), want) is None
    assert "rows" in check_digest(digest(cols, rows[:2]), want)
    assert "digest" in check_digest(digest(cols, [(1, 0.5), (2, 1.26), (3, None)]), want)


def test_failures_are_counted():
    run = Run("selftest", 0, 1, False)
    try:
        run.check(True, "ok")
        lo, hi = SPEC.start_ms, SPEC.start_ms + 10_000
        bad = check_points(_response(lo, hi, "a")[:3], SPEC.expected(lo, hi, "a", 10_000), lo, hi)
        run.check(bad is None, f"range: {bad}")
        bad = check_digest(digest(["x"], [(1,)]), digest(["x"], [(2,)]))
        run.check(bad is None, f"analytics: {bad}")
        assert (run.attempted, run.failed) == (3, 2)
        assert len(run.failures) == 2
    finally:
        run.close()


def test_failed_requests_miss_every_latency_limit():
    lat = [0.1] * 6 + [float("inf")] * 4
    assert percentile(lat, 50) == 0.1
    assert percentile(lat, 90) == float("inf")


def test_metric_sets_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
