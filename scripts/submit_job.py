"""spark-submit entry point for the extraction pipeline.

Cluster launch (north_rule: ``spark-submit --py-files`` on a
multi-executor cluster):

    cd /root/repo && zip -r /tmp/engine.zip pdf_extractor_spark
    spark-submit \
        --master <cluster-master> \
        --py-files /tmp/engine.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=64 \
        scripts/submit_job.py \
        --pages  <pages parquet/iceberg path> \
        --out    <extracted snapshot table path> \
        --metrics <metrics output path> \
        --partitions 2048

On a cluster the session comes from ``spark-submit``'s master/conf (we
call ``getOrCreate`` without forcing ``local[...]``); locally the same
script runs standalone through the tuned builder. ``--out`` is a
snapshot table (``sources/icetable.py``): each run commits its
extraction in one atomic snapshot flip. Re-running with the same
``--out`` resumes: completed urls are anti-joined away before any
compute (MERGE semantics, ``run_extraction_job`` in
``sources/pages.py``), and a run with nothing new commits no snapshot.
"""

from __future__ import annotations

import argparse
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="pages table path")
    ap.add_argument("--out", required=True, help="extracted output path")
    ap.add_argument("--metrics", default=None, help="metrics output path")
    ap.add_argument(
        "--partitions", type=int, default=None,
        help="extraction tasks (default: one per task slot, so one "
             "Python wave)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pdf_extractor_spark.plans.session import (
        _ensure_worker_pythonpath,
        build_session,
    )
    from pdf_extractor_spark.sources.pages import (
        read_pages,
        run_extraction_job,
    )

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active  # cluster: session config owned by spark-submit
    else:
        _ensure_worker_pythonpath()
        # under spark-submit this still respects --master/--conf because
        # getOrCreate merges with the submitted configuration
        spark = build_session(app="extract-submit")

    pages = read_pages(spark, args.pages)
    run_extraction_job(
        spark, pages, args.out,
        metrics_path=args.metrics,
        num_partitions=args.partitions,
    )
    print(f"extraction complete → {args.out}")


if __name__ == "__main__":
    main()
