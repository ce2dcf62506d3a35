"""SparkSession builder with the engine's scale-tuned defaults.

Local mode here mirrors a multi-executor cluster via task parallelism:
partitioning decisions (url-hash repartition, skew salting) are
identical; only the shuffle transport differs. On a real cluster the
same code ships via ``spark-submit --py-files`` (see
``scripts/submit_job.py``).
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

# Repo root containing the pdf_extractor_spark package.
_PKG_ROOT = str(Path(__file__).resolve().parents[2])


def _ensure_worker_pythonpath() -> None:
    """Local-mode equivalent of ``spark-submit --py-files``: Python
    workers are spawned by the JVM with the launching process's env, so
    the package root must be on PYTHONPATH *before* the session starts
    or ``mapInPandas`` closures fail to unpickle on the workers."""
    existing = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_ROOT + (os.pathsep + existing if existing else "")
        )


def build_session(
    app: str = "pdf_extractor_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """A ``local[cores]`` session. ``cores`` defaults to
    ``$SPARK_GRAFT_CPUS``, else this machine's ``os.cpu_count()``;
    ``shuffle_partitions`` defaults to ``max(cores, 8)``."""
    _ensure_worker_pythonpath()
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1)
    )
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # skewed equi-join keys (LSH buckets, boilerplate shingles)
        # split at runtime; map-stage skew is handled by the explicit
        # size-routing key instead (plans/pipeline.py — AQE cannot
        # split a straggler map task)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # extraction batches carry multi-MB binary payloads: keep Arrow
        # batches small enough that a batch of oversized docs fits in the
        # Python worker (SURVEY.md §2.11: replaces the reference's
        # batch-of-50 + gc.collect() memory management)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Spark creates the default database's directory here on the
        # first catalog access, and saved tables (plans/bucketing.py)
        # land here: keep it out of the repo tree (and of the working
        # directory), suffixed per user+process so
        # concurrent runs and other users never collide; on a cluster
        # this is the metastore warehouse
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(
                    tempfile.gettempdir(),
                    f"spark_graft_warehouse_{os.getuid()}_{os.getpid()}",
                ),
            ),
        )
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
