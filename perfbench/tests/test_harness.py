"""Self-tests of the benchmark's own plumbing (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import harness as H
from perfbench import inputs

ROOT = Path(__file__).resolve().parents[2]


@pytest.mark.parametrize("text, total", [
    ("2.9 s", 2.9),
    ("546 ms", 0.546),
    ("1.5 m", 90.0),
    ("0 ms", 0.0),
    ("16.5 MiB", 16.5 * 2 ** 20),
    ("0.0 B", 0.0),
    ("10,000", 10_000.0),
    ("3", 3.0),
])
def test_parse_single_task_metric(text, total):
    assert H.parse_metric(text) == pytest.approx({"total": total})


def test_parse_multi_task_metric():
    text = ("total (min, med, max (stageId: taskId))\n"
            "3.1 s (12 ms, 40 ms, 2.7 s (stage 4.0: task 17))")
    assert H.parse_metric(text) == pytest.approx(
        {"total": 3.1, "min": 0.012, "med": 0.040, "max": 2.7})
    size = ("total (min, med, max (stageId: taskId))\n"
            "175.1 KiB (0.0 B, 43.7 KiB, 88.0 KiB (stage 2.0: task 9))")
    assert H.parse_metric(size)["max"] == pytest.approx(88.0 * 1024)


@pytest.mark.parametrize("text", ["", "fast", "12 parsecs",
                                  "total (min, med, max (stageId: taskId))\n"])
def test_parse_rejects_malformed(text):
    with pytest.raises(ValueError):
        H.parse_metric(text)


@pytest.mark.parametrize("n, p", [
    (1, None), (99, None), (100, 90.0), (999, 90.0),
    (1000, 99.0), (9999, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert H.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10 - 1e-9


def test_quantile_interpolates():
    assert H.quantile([4, 1, 3, 2], 0.5) == 2.5
    assert H.quantile([1, 2, 3, 4, 5], 0.9) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        H.quantile([], 0.5)


def test_events_generator_is_seeded():
    a, b = inputs.events(7, 50), inputs.events(7, 50)
    assert inputs.digest(a) == inputs.digest(b)
    assert inputs.digest(a) != inputs.digest(inputs.events(8, 50))
    ts = a["ts"].cast("int64").to_numpy()
    assert (ts[1:] > ts[:-1]).all()  # unique (series, ts) keys by construction
    assert set(a["user_id"].to_pylist()) <= set(range(50))
    assert a.num_rows == round(50 * inputs.ROWS_PER_SERIES)


def test_tier_rows_counts_distinct_buckets():
    t = inputs.events(3, 20)
    day = inputs.tier_rows(t, "user_id", inputs.DAY_US)
    assert 20 <= day <= 20 * 30
    assert inputs.tier_rows(t, "user_id", 1) == t.num_rows


def test_tracer_attributes_to_innermost_span():
    tr = H.Tracer(True)
    with tr.span("pass", "p"):
        with tr.span("arrow_ops", "q") as _:
            pass
    outer, inner = tr.spans
    mid = (inner["t0_ms"] + inner["t1_ms"]) / 2
    assert tr.innermost(mid)["layer"] == "arrow_ops"
    assert tr.innermost(outer["t1_ms"] + 1e6) is None
    off = H.Tracer(False)
    with off.span("pass", "p"):
        pass
    assert off.spans == []


def test_box_sizing():
    assert H.scale_pair(4) == (1, 4)
    assert H.scale_pair(16) == (4, 16)
    assert H.scale_pair(1) == (1, 4)
    assert H.driver_memory(15 * 2 ** 30) == "1024m"
    assert H.driver_memory(32 * 2 ** 30) == "2048m"
    assert H.driver_memory(2 ** 30) == "1024m"
    assert H.driver_memory(2 ** 40) == "4096m"


def test_result_line_fits_the_tail():
    """Every metric of the largest set, at full float precision, stays a
    single line of at most 1500 characters."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for group in ("end_to_end", "per_layer"):
        metrics = {m["name"]: (-1.2345678901234567e-05, m["unit"]) for m in spec[group]}
        line = H.result_line(True, 123456, 0, metrics)
        assert "\n" not in line and len(line) <= 1500, (group, len(line))
        assert set(json.loads(line)) == {"correct", "attempted", "failed", "metrics"}
