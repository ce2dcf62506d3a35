"""bench.py picks its >2x-mover reference by round number and ends
its output with a short headline line."""

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
        "metric": "extraction_docs_per_sec",
        "value": 123.45,
        "unit": "docs/sec",
        "queries": {f"q{i}_some_catalog_entry": 1.234 for i in range(181)},
        "sf": 0.1,
        "n_docs_extracted": 2000,
        "total_sec": 99.9,
        "cores": 4,
        "flagged_over_2x": {"q1": [0.1, 0.3]},
    }
    line = bench.headline(record)
    assert len(line) <= 200 and "\n" not in line
    assert json.loads(line) == {
        "metric": "extraction_docs_per_sec", "value": 123.45,
        "unit": "docs/sec", "cores": 4, "sf": 0.1,
    }
