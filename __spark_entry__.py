"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: synthesize HTML/PDF payloads from the
sf0.001 ``documents`` table, run the full extraction kernel over both
branches via ``mapInPandas``, and aggregate per branch (docs, chars,
exact-roundtrip pass rate — extraction must reproduce the source text
byte-for-byte).

``queries()`` / ``oracle_sql()`` — the full catalog from
``pdf_extractor_spark.functions.query_catalog``: relational battery,
survey-analog operators (SURVEY.md §2), training-data operators
(dedup/similarity/text-analysis), and the extraction roundtrips whose
oracle is the identity ``SELECT doc_id, text FROM documents``.
"""

from __future__ import annotations

import pathlib
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

from pdf_extractor_spark.functions.query_catalog import CATALOG  # noqa: E402

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.sources.docwrap import (
        html_roundtrip,
        pdf_roundtrip,
    )

    docs = spark.read.parquet(f"{_SF0001}/documents.parquet")
    results = (
        html_roundtrip(docs).withColumn("branch", F.lit("html"))
        .unionByName(pdf_roundtrip(docs).withColumn("branch", F.lit("pdf")))
    )
    joined = results.join(docs.select("doc_id", "text", "lang"), "doc_id")
    return (
        joined.groupBy("branch", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("extracted_text")).alias("chars_out"),
            F.sum(
                (F.col("extracted_text") == F.col("text")).cast("long")
            ).alias("n_byte_identical"),
        )
        .orderBy("branch", "lang")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: qd.spark for name, qd in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query."""
    return {name: qd.oracle for name, qd in CATALOG.items()}
