"""bench.py picks its >2x-mover reference by round number."""

from __future__ import annotations

import importlib.util
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
