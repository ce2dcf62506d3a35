"""bench.py picks its >2x-mover reference by round number, flags
movers only against a reference of the same size, and ends its output
with a short headline line."""

from __future__ import annotations

import importlib.util
import json
import pathlib

_BENCH = pathlib.Path(__file__).resolve().parents[1] / "bench.py"


def _bench():
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_latest_full_record_sorts_rounds_numerically(tmp_path):
    bench = _bench()
    assert bench.latest_full_record(tmp_path) == []
    for name in ("BENCH_FULL_R5.json", "BENCH_FULL_R10.json",
                 "BENCH_FULL_R9.json", "BENCH_FULL_Rx.json"):
        (tmp_path / name).write_text("{}")
    assert bench.latest_full_record(tmp_path) == [
        tmp_path / "BENCH_FULL_R10.json"
    ]


def test_headline_is_a_short_last_line_with_the_headline_keys():
    bench = _bench()
    record = {
        "metric": "catalog_total_sec",
        "value": 123.45,
        "unit": "s",
        "queries": {f"q{i}_some_catalog_entry": 1.234 for i in range(181)},
        "sf": 0.1,
        "cores": 4,
        "flagged_over_2x": {"q1": [0.1, 0.3]},
    }
    line = bench.headline(record)
    assert len(line) <= 200 and "\n" not in line
    assert json.loads(line) == {
        "metric": "catalog_total_sec", "value": 123.45,
        "unit": "s", "cores": 4, "sf": 0.1,
    }


def test_flag_movers_skips_a_reference_of_another_size():
    bench = _bench()
    ref = {"sf": 0.1, "cores": 32,
           "queries": {"q1_pricing_summary": 1.0, "q3_fast": 0.01}}
    now = {"q1_pricing_summary": 3.0, "q3_fast": 0.5, "new_key": 9.0}
    assert bench.flag_movers(now, ref, 0.1, 4) == {}
    assert bench.flag_movers(now, ref, 0.01, 32) == {}
    assert bench.flag_movers(now, ref, 0.1, 32) == {
        "q1_pricing_summary": [1.0, 3.0]
    }
