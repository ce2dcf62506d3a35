"""Catalog timing — one JSON record to stdout, then its headline.

Times every catalog query (``functions/query_catalog.py``) at
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data) on
``local[$SPARK_GRAFT_CPUS]`` (default: this machine's
``os.cpu_count()``), and flags keys more than 2x slower than the last
committed ``BENCH_FULL_R<n>.json`` at the same scale factor and core
count.

    {"metric": "catalog_total_sec", "value": S, "unit": "s",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1,
     "cores": 4, "flagged_over_2x": {...}}
    {"metric": "catalog_total_sec", "value": S, "unit": "s",
     "cores": 4, "sf": 0.1}

The production job's throughput (docs/s through
``run_extraction_job``) is measured by ``perfbench/run.py``, not here.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

from pdf_extractor_spark.functions.query_catalog import CATALOG  # noqa: E402
from pdf_extractor_spark.plans.session import build_session  # noqa: E402

_RUNS = 2  # best-of-N samples per headline catalog key


def latest_full_record(root: pathlib.Path) -> list[pathlib.Path]:
    """The ``BENCH_FULL_R<n>.json`` under ``root`` with the highest
    round number ``n`` (R10 is newer than R5), as a list of at most
    one path."""
    rounds = []
    for p in root.glob("BENCH_FULL_R*.json"):
        n = p.stem[len("BENCH_FULL_R"):]
        if n.isdigit():
            rounds.append((int(n), p))
    return [max(rounds)[1]] if rounds else []


def flag_movers(queries: dict[str, float], ref: dict, sf: float,
                cores: int) -> dict[str, list[float]]:
    """Keys of ``queries`` more than 2x slower than in the reference
    record ``ref``, as ``{key: [old, new]}``. A reference measured at
    another scale factor or core count is not comparable and flags
    nothing."""
    if ref.get("sf") != sf or ref.get("cores") != cores:
        return {}
    old_queries = ref.get("queries", {})
    flagged = {}
    for k, v in queries.items():
        old = old_queries.get(k)
        if isinstance(old, (int, float)) and old > 0.05 and v > 2 * old:
            flagged[k] = [old, v]
    return flagged


def headline(record: dict) -> str:
    """The record's headline as one short JSON line (under 200
    characters), printed after the full record so that a reader who
    keeps only the tail of the output still sees it."""
    return json.dumps(
        {k: record[k] for k in ("metric", "value", "unit", "cores", "sf")}
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    sf = float(pathlib.Path(sf_dir).name.replace("sf", "") or 0.1)
    spark = build_session(
        app="bench", cores=cores,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # untimed warm-up: JVM, parquet footers and the Python worker pool
    # — the first Arrow stage otherwise pays worker spawn + import cost
    from pdf_extractor_spark.sources.docwrap import html_roundtrip

    warm = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(
        cores * 2
    )
    html_roundtrip(warm, num_partitions=cores).count()

    # Every catalog entry gets a recorded wall time. Headline keys are
    # best of _RUNS: a shared host has minute-scale contention windows
    # (3-10x swings, BASELINE.md), so one sample can land far off
    # steady state. The long tail runs once — one sample is enough to
    # flag a >2x regression.
    queries: dict[str, float] = {}
    for name, qd in CATALOG.items():
        best = float("inf")
        for _ in range(_RUNS if qd.headline else 1):
            t0 = time.perf_counter()
            df = qd.spark(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        queries[name] = round(best, 3)

    # self-flag >2x movers against the last committed full-battery
    # record; BASELINE.md's A/B rule still applies before believing a
    # flag
    flagged: dict[str, list[float]] = {}
    root = pathlib.Path(__file__).resolve().parent
    for ref_file in latest_full_record(root):
        try:
            ref = json.loads(ref_file.read_text())
        except (OSError, ValueError):
            continue
        flagged.update(flag_movers(queries, ref, sf, cores))

    record = {
        "metric": "catalog_total_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "s",
        "queries": queries,
        "sf": sf,
        "cores": cores,
        "flagged_over_2x": flagged,
    }
    print(json.dumps(record))
    print(headline(record))
    spark.stop()


if __name__ == "__main__":
    main()
