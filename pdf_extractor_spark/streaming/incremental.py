"""Incremental extraction via Structured Streaming — SURVEY.md §2.11.

The reference's checkpoint/resume machinery (page-checkpoint JSON +
skip-existing, ``large_doc_extractor.py:147-199``,
``processor.py:113-116``) maps to TWO cooperating layers here:

1. **Source progress**: ``readStream`` over the pages directory with a
   ``checkpointLocation`` — Spark's streaming checkpoint records which
   input files each micro-batch consumed, so a restarted query never
   re-reads completed batches (exactly-once source tracking).
2. **Sink idempotence**: inside ``foreachBatch``, each micro-batch is
   committed through :func:`icetable.extract_to_table`, the same call
   the batch job makes: the batch is anti-joined against the urls the
   snapshot table already stores before compute, and committed in one
   atomic snapshot flip after (the Iceberg ``MERGE INTO ... WHEN NOT
   MATCHED`` semantics — S5/S6). Even if a batch is replayed after a
   crash mid-write, re-extraction is skipped for urls that landed, and
   duplicates cannot enter the table.

``trigger(availableNow=True)`` drains everything currently available
then stops — the batch-job-with-streaming-bookkeeping mode, which is
also what a scheduled incremental crawl ingest would run. A continuous
deployment would swap the trigger for a processing-time one; nothing
else changes.

The extraction KERNEL has no late-data semantics (the reference's only
session windows are the intra-document gap clusterings — SURVEY.md
§2.11); event-time watermarking lives on the crawl-INGEST side, where
:func:`stream_windowed_ingest_stats` maintains per-hour per-lang
arrival statistics over ``warc_ts`` with bounded state: the watermark
finalizes each window once, and records arriving later than the
allowed lateness are dropped instead of reopening emitted windows.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from ..sources.icetable import extract_to_table, read_table, table_exists
from ..sources.pages import PAGES_SCHEMA_DDL


def stream_extract(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint_path: str,
    num_partitions: int | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start an availableNow incremental extraction over a pages
    directory. Returns the query; call ``awaitTermination()``.
    ``num_partitions=None`` extracts each micro-batch with one task per
    task slot, so one Python wave (``plans.pipeline.extract_pages``).

    Each micro-batch is committed to the snapshot table at
    ``out_path`` by :func:`icetable.extract_to_table`. New parquet
    files dropped under ``pages_path`` after a run are picked up by the
    next run; completed files are skipped via the streaming checkpoint,
    completed urls via the table's resume anti-join.
    """
    reader = spark.readStream.schema(PAGES_SCHEMA_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(pages_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        extract_to_table(
            batch_df.sparkSession, batch_df, out_path,
            num_partitions=num_partitions,
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _newest_unseen(batch: DataFrame, table_path: str) -> DataFrame:
    """The rows of ``batch`` an upsert should extract: the newest crawl
    of each url in the batch, dropped when the table at ``table_path``
    already stores that url with the same or a newer ``warc_ts``. The
    stored side is one (url, warc_ts) projection of the table, joined
    on url — a shuffled equi-join, never a broadcast of the big side."""
    newest = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    todo = (
        batch.withColumn("_rn", F.row_number().over(newest))
        .where("_rn = 1")
        .drop("_rn")
    )
    if not table_exists(table_path):
        return todo
    stored = read_table(batch.sparkSession, table_path).select(
        "url", F.col("warc_ts").alias("_seen_ts")
    )
    return (
        todo.join(stored, "url", "left")
        .where(
            F.col("_seen_ts").isNull()
            | (F.col("warc_ts") > F.col("_seen_ts"))
        )
        .drop("_seen_ts")
    )


def stream_extract_upsert(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint_path: str,
    num_partitions: int | None = None,
) -> StreamingQuery:
    """Re-crawl-aware incremental extraction: the MERGE ``WHEN
    MATCHED`` counterpart of :func:`stream_extract` (which covers only
    first-crawl inserts). ``num_partitions`` defaults to one task per
    task slot, as there. Each micro-batch:

    1. keeps, per url, only the newest crawl in the batch, and only if
       the table does not already store that url with a same-or-newer
       ``warc_ts`` (:func:`_newest_unseen`: no wasted extraction on
       stale replays, and one row per url, which
       ``extract_to_table`` requires);
    2. extracts the remaining rows and commits them with
       ``extract_to_table(..., upsert=True)``: a copy-on-write MERGE on
       url in one atomic snapshot flip.

    Idempotent under batch replay: re-running a landed batch finds
    every url up to date, extracts nothing and commits no snapshot."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        extract_to_table(
            batch_df.sparkSession, _newest_unseen(batch_df, out_path),
            out_path, num_partitions=num_partitions, upsert=True,
        )

    return (
        spark.readStream.schema(PAGES_SCHEMA_DDL)
        .parquet(pages_path)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_ingest_stats(
    spark: SparkSession,
    pages_path: str,
    sink_path: str,
    checkpoint_path: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "1 hour",
) -> StreamingQuery:
    """Event-time tumbling-window ingest statistics with a watermark —
    the Structured Streaming shape for late crawl data.

    ``groupBy(window(warc_ts), lang).agg(count, sum(bytes))`` in APPEND
    mode: a window row is emitted exactly once, when the watermark
    (max event time − ``watermark_delay``) passes its end. Late
    records inside the delay merge into their open window; records
    later than the watermark are DROPPED (bounded state — the property
    that matters at 10^12 rows: without the watermark every window
    stays open forever). The batch-mode twin of this plan is the
    ``w_tumbling_hour`` catalog query, which DuckDB oracle-checks the
    same aggregation semantics."""
    stream = spark.readStream.schema(PAGES_SCHEMA_DDL).parquet(pages_path)
    agg = (
        stream.withWatermark("warc_ts", watermark_delay)
        .groupBy(
            F.window("warc_ts", window_duration).alias("w"), F.col("lang")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang", "n_docs", "bytes_in",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_ingest(
    spark: SparkSession,
    pages_path: str,
    sink_path: str,
    checkpoint_path: str,
    watermark_delay: str = "1 hour",
) -> StreamingQuery:
    """Re-crawl duplicate suppression ON the ingest stream: duplicate
    fetches of the same url arriving within the watermark horizon are
    dropped BEFORE the expensive extraction stage ever sees them
    (the MERGE resume dedups re-runs; this dedups the stream itself).

    ``dropDuplicatesWithinWatermark`` keeps per-url state only until
    the watermark passes — bounded state, unlike a plain
    ``dropDuplicates`` whose key set grows with the whole 10^12-row
    crawl. First arrival wins within the horizon; a re-fetch after the
    horizon flows through and the downstream newest-wins upsert sink
    (``stream_extract_upsert``) resolves it at the table level."""
    stream = spark.readStream.schema(PAGES_SCHEMA_DDL).parquet(pages_path)
    deduped = (
        stream.withWatermark("warc_ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["url"])
        .select(
            "url",
            "warc_ts",
            "lang",
            F.length("html").alias("bytes_in"),
        )
    )
    return (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


_STATS_OUT_DDL = "lang string, n_docs long, bytes_in long"
_STATS_STATE_DDL = "n_docs long, bytes_in long"


def _update_lang_stats(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n_docs, bytes_in = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n_docs += len(pdf)
        bytes_in += int(pdf["html"].map(len).sum())
    state.update((n_docs, bytes_in))
    yield pd.DataFrame(
        {"lang": [key[0]], "n_docs": [n_docs], "bytes_in": [bytes_in]}
    )


def stream_running_lang_stats(
    spark: SparkSession,
    pages_path: str,
    sink_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    running per-lang document/byte totals across micro-batches AND
    across restarts — the state store lives in the streaming
    checkpoint, so a new availableNow run resumes the counters instead
    of starting from zero.

    This is the pattern the engine uses for any cross-batch stateful
    per-key operator a crawl-ingest pipeline needs (running corpus
    stats, per-domain quotas, incremental dedup counters); state is
    partitioned by the group key, so it shards across executors like
    any shuffle."""
    stream = spark.readStream.schema(PAGES_SCHEMA_DDL).parquet(pages_path)
    updated = stream.groupBy("lang").applyInPandasWithState(
        _update_lang_stats,
        _STATS_OUT_DDL,
        _STATS_STATE_DDL,
        "update",
        GroupStateTimeout.NoTimeout,
    )

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("append").parquet(sink_path)

    return (
        updated.writeStream.foreachBatch(sink_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
