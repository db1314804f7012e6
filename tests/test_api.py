"""API façade semantics — the reference's own API test scenarios
(tests/test_api.py:23-66) through the in-process handlers."""

import math
import shutil
import tempfile

import pytest

from time_series_databse_engine_spark import TimeSeriesStore
from time_series_databse_engine_spark.api import ingest_points, query_points


@pytest.fixture()
def store(spark):
    d = tempfile.mkdtemp()
    yield TimeSeriesStore(spark, d + "/points")
    shutil.rmtree(d)


def test_ingest_and_query_inclusive_bounds(store):
    # reference tests/test_api.py:37-57
    pts = [
        {"metric": "test", "timestamp": 100, "value": 10.0},
        {"metric": "test", "timestamp": 150, "value": 15.0},
        {"metric": "test", "timestamp": 200, "value": 20.0},
        {"metric": "test", "timestamp": 300, "value": 30.0},
    ]
    resp = ingest_points(store, pts)
    assert resp == {"status": "success", "points_ingested": 4}

    out = query_points(store, 100, 250)
    assert [(p["timestamp"], p["value"]) for p in out["points"]] == [
        (100, 10.0),
        (150, 15.0),
        (200, 20.0),
    ]
    assert out["metric"] == "test"


def test_query_empty_db(store):
    # reference tests/test_api.py:59-66 — empty DB is 0 points, not an error
    out = query_points(store, 100, 250)
    assert out["points"] == []


def test_metric_preserved_per_series(store):
    # divergence from the reference (api/main.py:70 drops metric): per-series query
    ingest_points(
        store,
        [
            {"metric": "cpu", "timestamp": 100, "value": 1.0},
            {"metric": "mem", "timestamp": 100, "value": 2.0},
        ],
    )
    out = query_points(store, 0, 1000, metric="mem")
    assert out["metric"] == "mem"
    assert [p["value"] for p in out["points"]] == [2.0]


def test_limit_cap(store):
    ingest_points(
        store,
        [{"metric": "m", "timestamp": 1000 + i, "value": float(i)} for i in range(20)],
    )
    out = query_points(store, 0, 10_000, limit=5)
    assert len(out["points"]) == 5
    assert [p["timestamp"] for p in out["points"]] == [1000, 1001, 1002, 1003, 1004]


def test_round_trip_is_bit_exact(store):
    # points cross the Python-JVM boundary as Arrow both ways: special
    # doubles, the sign of -0.0, subnormals and extreme timestamps must
    # come back unchanged, timestamps as Python ints
    assert ingest_points(store, []) == {"status": "success", "points_ingested": 0}
    assert query_points(store, -(2**62), 2**62)["points"] == []

    vals = {-5: math.nan, 0: math.inf, 1: -0.0, 2: 1e-310, 2**62: -math.inf}
    pts = [{"metric": "edge", "timestamp": t, "value": v} for t, v in vals.items()]
    assert ingest_points(store, pts)["points_ingested"] == len(pts)

    out = query_points(store, -5, 2**62)
    assert out["metric"] == "edge"  # metric=None echoes the first row's
    got = out["points"]
    assert [p["timestamp"] for p in got] == sorted(vals)
    assert all(type(p["timestamp"]) is int for p in got)
    for p in got:
        want = vals[p["timestamp"]]
        assert type(p["value"]) is float
        assert math.copysign(1.0, p["value"]) == math.copysign(1.0, want)
        assert (math.isnan(p["value"]) and math.isnan(want)) or p["value"] == want
    assert store.points().count() == len(pts)
