"""Pages-table sources, report sinks and the batch extraction job
(SURVEY.md §2.1).

The production design targets an Iceberg table (``MERGE INTO ... WHEN
NOT MATCHED THEN INSERT`` keyed on url — S5). This sandbox has no
Iceberg runtime jars, so the pages are a parquet directory and the
extraction output is the snapshot table of ``sources/icetable.py``:
:func:`run_extraction_job` commits through
:func:`icetable.extract_to_table`, which anti-joins the work list
against the stored urls before compute and commits in one atomic
snapshot flip. A re-run processes only urls absent from the table, so
re-runs are idempotent — no duplicates, no loss, and a re-run with
nothing new commits no snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import icetable

PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Iceberg stand-in: ``spark.read.format("iceberg").load(tbl)`` in
    production; parquet directory here. Partition/file pruning and
    column pruning are native either way. The read carries the pages
    schema, so building the frame runs no schema-inference job."""
    return spark.read.schema(PAGES_SCHEMA_DDL).parquet(path)


def write_pages(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def read_pages_binary(
    spark: SparkSession, dir_path: str, glob: str = "*.{pdf,html}"
) -> DataFrame:
    """S1's loose-file mapping (reference ``processor.py:63-71``
    recursive ``*.pdf`` scan): read a directory of raw documents with
    the native binaryFile source and present them in the pages schema
    (``url`` = file path, ``warc_ts`` = modificationTime, ``text`` and
    ``lang`` null — the extractor derives them).

    ``recursiveFileLookup`` mirrors the reference's ``rglob``; listing
    and file pruning stay on the driver/JVM side, payloads are read by
    executors (never collected)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(dir_path)
    )
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def write_report_csv(extracted: DataFrame, path: str) -> None:
    """S8 CSV report sink (reference ``batch_processor.py:320-362``:
    per-document comparison report ordered by quality desc — O7).
    Scalar projection of the extraction record; a single CSV directory
    written by executors (never collected to the driver)."""
    report = extracted.select(
        "url",
        "branch",
        "ok",
        F.col("quality.score").alias("score"),
        F.col("quality.grade").alias("grade"),
        F.col("quality.status").alias("status"),
        "n_pages",
        "bytes_in",
        "chars_out",
        F.size("errors").alias("n_errors"),
    ).orderBy(F.desc("score"), F.asc("url"))
    report.write.mode("overwrite").option("header", "true").csv(path)


def write_report_html(
    extracted: DataFrame, path: str, top_n: int = 100
) -> None:
    """S8 HTML report sink (reference ``batch_processor.py:339-362``:
    human-readable run summary). Unlike the row-level CSV report this
    is a SUMMARY artifact: one aggregate row plus the ``top_n``
    best/worst documents — the only part of a 10^12-row run a human
    reads, so collecting it to the driver is correct (bounded by
    ``top_n``, never by corpus size). The input is persisted around
    the two driver actions so the (expensive) upstream extraction
    plan executes once, not twice."""
    from html import escape

    extracted = extracted.persist()
    try:
        agg = extracted.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.round(F.avg("quality.score"), 2).alias("avg_score"),
            F.sum("chars_out").alias("chars_out"),
        ).collect()[0]
        rows = (
            extracted.select(
                "url", "branch", F.col("quality.score").alias("score"),
                F.col("quality.grade").alias("grade"),
            )
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(top_n)
            .collect()
        )
    finally:
        extracted.unpersist()

    def esc(s: object) -> str:
        return escape(str(s), quote=False)

    body = "\n".join(
        f"<tr><td>{esc(r.url)}</td><td>{esc(r.branch)}</td>"
        f"<td>{r.score:.1f}</td><td>{esc(r.grade)}</td></tr>"
        for r in rows
    )
    html = (
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        "<title>extraction report</title></head><body>"
        f"<h1>Extraction report</h1>"
        f"<p>docs: {agg.n_docs} ok: {agg.n_ok} "
        f"avg score: {agg.avg_score} chars out: {agg.chars_out}</p>"
        "<table border='1'><tr><th>url</th><th>branch</th>"
        f"<th>score</th><th>grade</th></tr>{body}</table>"
        "</body></html>"
    )
    import pathlib as _pl

    p = _pl.Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(html, encoding="utf-8")


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_path: str,
    metrics_path: str | None = None,
    num_partitions: int | None = None,
) -> None:
    """End-to-end job: resume anti-join → extract → one atomic commit
    into the snapshot table at ``out_path``
    (:func:`icetable.extract_to_table`), then the metrics rollup over
    the whole table. ``pages`` is evaluated once, and a call with
    nothing to extract commits no snapshot. Before the first commit
    there is no table (a first call with nothing to extract leaves no
    directory at ``out_path``), and so no metrics are written.

    This is the body that ``spark-submit --py-files`` runs on a cluster
    (``scripts/submit_job.py``). ``num_partitions=None`` extracts with
    one task per task slot, so one Python wave
    (``plans.pipeline.extract_pages``).
    """
    from ..plans.pipeline import metrics_from_extracted

    icetable.extract_to_table(
        spark, pages, out_path, num_partitions=num_partitions
    )
    if metrics_path and icetable.table_exists(out_path):
        metrics = metrics_from_extracted(
            icetable.read_table(spark, out_path)
        )
        metrics.write.mode("overwrite").parquet(metrics_path)
