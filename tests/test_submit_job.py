"""The spark-submit --py-files launch surface (north rule): the
package shipped as a zip to a fresh driver process, extraction ran
through scripts/submit_job.py, and a second identical invocation
resuming to a no-op. Spawns real spark-submit subprocesses — the one
surface in-process tests structurally cannot cover (worker imports
resolve from the zip, not the repo checkout)."""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on box"
)
def test_spark_submit_pyfiles_extraction_and_resume(spark, tmp_path):
    import pyspark.sql.functions as F

    from pdf_extractor_spark.fixtures.corpus import build_pages_frame
    from pdf_extractor_spark.sources.icetable import (
        current_snapshot_id,
        read_table,
    )
    from pdf_extractor_spark.sources.pages import (
        PAGES_SCHEMA_DDL,
        write_pages,
    )

    pdf = build_pages_frame()
    pages = str(tmp_path / "pages")
    write_pages(spark.createDataFrame(pdf, PAGES_SCHEMA_DDL), pages)

    zip_path = tmp_path / "engine.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in (ROOT / "pdf_extractor_spark").rglob("*.py"):
            zf.write(p, p.relative_to(ROOT))

    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    # run a COPY of the entry script from outside the checkout:
    # submit_job.py puts its own parent's parent on sys.path, so run
    # from the repo it would quietly re-expose the checkout — copied
    # to tmp, the --py-files zip is the ONLY package source for both
    # the driver and the workers
    script = tmp_path / "submit_job.py"
    script.write_bytes(
        (ROOT / "scripts" / "submit_job.py").read_bytes()
    )
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--py-files", str(zip_path),
        str(script),
        "--pages", pages, "--out", out,
        "--metrics", metrics, "--partitions", "4",
    ]
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }  # the zip, not the checkout, must supply the package
    env["PYSPARK_PYTHON"] = sys.executable
    snaps = []
    for attempt in ("fresh", "resume"):
        run = subprocess.run(
            cmd, cwd=str(tmp_path), env=env,
            capture_output=True, text=True, timeout=600,
        )
        assert run.returncode == 0, (attempt, run.stderr[-2000:])
        got = read_table(spark, out)
        n = got.count()
        assert n == got.select("url").distinct().count() == len(pdf), (
            attempt, n
        )
        snaps.append(current_snapshot_id(out))
    assert snaps[1] == snaps[0]  # the resume run committed nothing
    met = spark.read.parquet(metrics)
    assert met.agg(F.sum("n_docs")).first()[0] == len(pdf)
