"""End-to-end figures from a window's samples."""

import math

import run


def test_dashboard_latency_is_mix_weighted_and_setup_is_the_cold_sample():
    # three fast requests and one slow one, declared half and half: the
    # plain mean would be 0.325 s, the mix-weighted one is 0.55 s
    out = {"lat": [0.1, 0.1, 0.1, 1.0], "by_type": {"a": [0.1, 0.1, 0.1], "b": [1.0]},
           "mix": {"a": 0.5, "b": 0.5}, "clients": 2, "items": 4, "elapsed": 1.3,
           "retained": {"heap": 2**20, "non_heap": 2**20}, "what": ("request", "requests"),
           "errors": []}
    m = run.e2e({"total": [12.0, 0.5, 0.6]}, out)
    assert math.isclose(m["latency_mean_ms"], 550.0)
    assert math.isclose(m["throughput_per_s"], 2 / 0.55)
    assert m["setup_s"] == 12.0
    assert math.isclose(m["retained_mb"], 2.0)


def test_ingest_throughput_counts_writer_time_only():
    out = {"lat": [0.2, 0.4], "items": 600, "elapsed": 9.0, "commit": [3.0, 3.0],
           "retained": {"heap": 0, "non_heap": 2**20}, "what": ("fresh read", "rows"), "errors": []}
    m = run.e2e({"total": [10.0]}, out)
    assert math.isclose(m["latency_mean_ms"], 300.0)
    assert math.isclose(m["throughput_per_s"], 100.0)
