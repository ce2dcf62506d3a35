"""Benchmark harness — one JSON record to stdout, then its headline.

Runs the headline catalog queries plus the end-to-end extraction
throughput measure at ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1
test data) on ``local[$SPARK_GRAFT_CPUS]`` (default: this machine's
``os.cpu_count()``).

    {"metric": "extraction_docs_per_sec", "value": N, "unit": "docs/sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1, ...}
    {"metric": "extraction_docs_per_sec", "value": N, "unit": "docs/sec",
     "cores": 4, "sf": 0.1}

The headline metric is docs/sec through the FULL extraction pipeline
(payload synthesis + parse + layout + serialize, both branches) — the
comparable number to the reference's 0.1–0.5 docs/sec single-thread
baseline (BASELINE.md).
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

    # warmup: JVM, parquet footers, AND the Python worker pool — the
    # first Arrow stage otherwise pays worker spawn + import cost
    from pdf_extractor_spark.sources.docwrap import html_roundtrip as _hw

    warm = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(
        cores * 2
    )
    _hw(warm, num_partitions=cores).count()

    # Each timing is best-of-N: this sandbox is a shared VM whose host
    # exhibits minute-scale contention windows (measured 3-10x swings
    # with ~0% steal — memory-bandwidth noise, see BASELINE.md), so a
    # single sample can land 5x off steady-state. Min over N runs of
    # the SAME plan is the standard steady-state estimator here.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

    # headline extraction throughput is measured FIRST, in a clean
    # JVM: the catalog battery below leaves checkpoint blocks / heap
    # fragmentation behind, and measuring after it was worth a 2x
    # pessimization of the docs/sec figure (measured 3.3 s vs 1.6 s
    # for the identical plan)
    from pyspark.sql import functions as F

    from pdf_extractor_spark.sources.docwrap import (
        html_roundtrip,
        pdf_roundtrip,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count() * 2
    wall = float("inf")
    for _ in range(max(n_runs, 3)):
        t0 = time.perf_counter()
        both = html_roundtrip(docs).unionByName(pdf_roundtrip(docs))
        both.select("doc_id", F.length("extracted_text").alias("n")) \
            .write.format("noop").mode("overwrite").save()
        wall = min(wall, time.perf_counter() - t0)
    docs_per_sec = round(n_docs / wall, 2)

    # Every catalog entry gets a recorded wall time (VERDICT r4 #5:
    # 90 of 181 keys had none).  Headline keys keep best-of-N; the
    # long tail runs once — a single sample is enough to flag a
    # >2x regression, and N runs of 181 keys would blow the bench
    # window for noise reduction the headline set already provides.
    queries: dict[str, float] = {}
    for name, qd in CATALOG.items():
        best = float("inf")
        for _ in range(n_runs if qd.headline else 1):
            t0 = time.perf_counter()
            df = qd.spark(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        queries[name] = round(best, 3)

    total = round(sum(queries.values()) + wall, 3)
    queries["extraction_throughput"] = round(wall, 3)

    # self-flag >2x movers against the last committed full-battery
    # record (BENCH_FULL_R*.json) so a regression is visible in the
    # output line itself, not only to a human diffing rounds. A/B
    # rules from BASELINE.md still apply before believing a flag —
    # this box has minute-scale contention windows.
    flagged: dict[str, list[float]] = {}
    ref_path = os.environ.get("SPARK_GRAFT_BENCH_REF")
    candidates = (
        [pathlib.Path(ref_path)] if ref_path
        else latest_full_record(pathlib.Path(__file__).resolve().parent)
    )
    for ref_file in candidates:
        try:
            rec = json.loads(ref_file.read_text())
        except (OSError, ValueError):
            continue
        if rec.get("sf") != sf:
            continue  # cross-SF wall times are not comparable
        ref = rec.get("queries", {})
        for k, v in queries.items():
            old = ref.get(k)
            if isinstance(old, (int, float)) and old > 0.05 \
                    and v > 2 * old:
                flagged[k] = [old, v]

    record = {
        "metric": "extraction_docs_per_sec",
        "value": docs_per_sec,
        "unit": "docs/sec",
        "queries": queries,
        "sf": sf,
        "n_docs_extracted": n_docs,
        "total_sec": total,
        "cores": cores,
        "flagged_over_2x": flagged,
    }
    print(json.dumps(record))
    print(headline(record))
    spark.stop()


if __name__ == "__main__":
    main()
