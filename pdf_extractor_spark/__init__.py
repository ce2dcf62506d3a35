"""pdf_extractor_spark — a PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference single-process PDF extractor (``praveenkumar-droid/pdf-extractor``,
surveyed in ``SURVEY.md``): deterministic per-document text extraction
(PDF layout analysis + HTML boilerplate stripping), run as a
partition-parallel ``mapInPandas`` stage over a Common-Crawl-style
``pages`` table, with url-hash repartitioning, anti-join checkpoint
resume, and per-partition lineage/metrics.

Layering:

- ``operators/``  pure pandas/NumPy per-document kernels — ZERO Spark
  imports, unit-testable in-process.
- ``sources/``    table readers/writers (parquet stand-in for Iceberg)
  and resume anti-join.
- ``plans/``      Spark wiring: session builder, the extraction
  pipeline (repartition → mapInPandas → sinks), metrics aggregation.
- ``functions/``  dataset-level analytics: dedup (exact / MinHash /
  n-gram Jaccard / SimHash), similarity search, text statistics.
- ``streaming/``  Structured Streaming ingestion (foreachBatch merge).
- ``fixtures/``   deterministic synthetic corpus + golden builder.

Importing the package installs :mod:`pdf_extractor_spark.zipguard`, so
a Python worker stops re-reading its zip archives on every task.
"""

from pdf_extractor_spark import zipguard

zipguard.install()

__version__ = "0.1.0"
