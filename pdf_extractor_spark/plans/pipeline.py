"""The extraction pipeline: pages table → extracted + metrics tables.

Physical plan (SURVEY.md §3.4):

    read pages (column-pruned: url, warc_ts, html)
      → anti-join vs existing output          (checkpoint resume, S5/S6)
      → size-routed repartition by url-hash   (skew defusal, SURVEY §4.2)
      → mapInPandas(extract_iter)             (ONE fused Arrow stage)
      → append extracted; metrics = groupBy(part_id) rollup

Skew handling: AQE cannot split a straggler *map* task, so layout is
explicit — the one exchange keys documents larger than
``cfg.oversize_bytes`` on an independently salted hash of their url
(``_routing_key``), so their placement does not follow their url's
normal bucket, while the long tail hashes uniformly by
``xxhash64(url)``. At 100 TB the same layout holds: the oversized rows
are a tiny fraction and spread over the tasks instead of stacking in
the buckets their urls would pick.

Lineage: every output row carries (part_id, batch_id, batch_ms,
attempt, host, extracted_at); per-partition metrics rows are an
aggregation over those columns (north_rule "per-partition lineage +
extraction metrics rows").
"""

from __future__ import annotations

import datetime as dt
import socket
import time
from collections.abc import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, ExtractConfig
from ..operators.document import extract_document

SPAN_TYPE = T.StructType(
    [
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("page", T.IntegerType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("branch", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
        T.StructField(
            "tables",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("page", T.IntegerType()),
                        T.StructField("rows", T.IntegerType()),
                        T.StructField("cols", T.IntegerType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("confidence", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "footnotes",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("marker", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("page", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "quality",
            T.StructType(
                [
                    T.StructField("score", T.DoubleType()),
                    T.StructField("grade", T.StringType()),
                    T.StructField("coverage", T.DoubleType()),
                    T.StructField("status", T.StringType()),
                    # A6 per-dimension sub-scores (quality_scorer.py
                    # five-dim battery)
                    T.StructField(
                        "dims", T.MapType(T.StringType(), T.DoubleType())
                    ),
                ]
            ),
        ),
        # C7/F11 sidebar textboxes
        T.StructField(
            "textboxes",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("page", T.IntegerType()),
                        T.StructField("box_type", T.StringType()),
                        T.StructField("text", T.StringType()),
                    ]
                )
            ),
        ),
        # A3 element inventory — fixed key set (operators/inventory.py)
        T.StructField(
            "inventory", T.MapType(T.StringType(), T.LongType())
        ),
        # A5 footnote completeness
        T.StructField(
            "footnote_stats",
            T.StructType(
                [
                    T.StructField("n_markers", T.IntegerType()),
                    T.StructField("n_definitions", T.IntegerType()),
                    T.StructField("n_matched", T.IntegerType()),
                    T.StructField("match_rate", T.DoubleType()),
                    T.StructField("status", T.StringType()),
                    # D4 unmatched sets (reference
                    # footnote_extractor.py:418-422) — the review-queue
                    # payload, not just counts
                    T.StructField(
                        "unmatched_markers", T.ArrayType(T.StringType())
                    ),
                    T.StructField(
                        "unmatched_definitions",
                        T.ArrayType(T.StringType()),
                    ),
                ]
            ),
        ),
        T.StructField(
            "errors",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType()),
                        T.StructField("severity", T.StringType()),
                        T.StructField("page", T.IntegerType()),
                        T.StructField("message", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("chars_out", T.LongType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("batch_id", T.IntegerType()),
        T.StructField("batch_ms", T.LongType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("host", T.StringType()),
        T.StructField("extracted_at", T.TimestampType()),
    ]
)

METRICS_SCHEMA_COLS = [
    "part_id", "n_docs", "n_ok", "n_failed", "bytes_in", "chars_out",
    "wall_ms", "host", "attempt",
]

_FAIL_SEVERITIES = {"error", "critical"}


def _make_extract_iter(cfg: ExtractConfig):
    """Returns the mapInPandas function: Iterator[pdf] → Iterator[pdf].

    Per Arrow batch: vectorize the per-document kernel over rows, stamp
    lineage columns. All heavy work happens on payload bytes already in
    the Python worker (one JVM↔Python hop per batch, SURVEY.md §3.4).
    """

    def extract_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        part_id = tc.partitionId() if tc else -1
        attempt = tc.attemptNumber() if tc else 0
        host = socket.gethostname()
        for batch_id, pdf in enumerate(batches):
            t0 = time.perf_counter()
            recs = [extract_document(payload, cfg) for payload in pdf["html"]]
            batch_ms = int((time.perf_counter() - t0) * 1000)
            now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
            out = pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(),
                    "warc_ts": pdf["warc_ts"].to_numpy(),
                    "branch": [r["branch"] for r in recs],
                    "extracted_text": [r["extracted_text"] for r in recs],
                    "spans": [
                        [
                            {"start": s[0], "end": s[1], "kind": s[2],
                             "page": s[3]}
                            for s in r["spans"]
                        ]
                        for r in recs
                    ],
                    "tables": [r["tables"] for r in recs],
                    "footnotes": [r["footnotes"] for r in recs],
                    "textboxes": [r["textboxes"] for r in recs],
                    "quality": [r["quality"] for r in recs],
                    "inventory": [r["inventory"] for r in recs],
                    "footnote_stats": [r["footnote_stats"] for r in recs],
                    "errors": [r["errors"] for r in recs],
                    "ok": [
                        not any(
                            e["severity"] in _FAIL_SEVERITIES
                            for e in r["errors"]
                        )
                        for r in recs
                    ],
                    "n_pages": [r["n_pages"] for r in recs],
                    "bytes_in": [len(p) for p in pdf["html"]],
                    "chars_out": [len(r["extracted_text"]) for r in recs],
                    "part_id": part_id,
                    "batch_id": batch_id,
                    "batch_ms": batch_ms,
                    "attempt": attempt,
                    "host": host,
                    "extracted_at": now,
                }
            )
            yield out

    return extract_iter


def _routing_key(cfg: ExtractConfig):
    """Skew-defusing shuffle key, evaluated in ONE scan, at FULL hash
    cardinality.

    Normal docs key on ``xxhash64(url)``; oversized docs key on an
    independently-salted ``xxhash64(url, 1)``, so a multi-hundred-MB
    payload's placement is decorrelated from its url's normal bucket
    (SURVEY.md §4.2 — AQE cannot split a straggler map task, so the
    layout must spread the heavy tail up front).

    Both sides keep the full 64-bit value range: an earlier variant
    pre-modded each side down to ~P distinct strings, which
    ``repartition`` then re-hashed mod P — balls-in-bins collisions
    left ~1/3 of partitions empty and stacked 2-3 bucket-groups (or an
    oversized bucket on top of a full normal bucket) into others.
    Full-cardinality keys restore uniform balance; the salt still
    guarantees oversized rows spread independently (~Poisson(1) per
    partition when oversized ≪ P) rather than pinning to their url's
    bucket."""
    size = F.length(F.col("html"))
    return F.when(
        size > cfg.oversize_bytes, F.xxhash64("url", F.lit(1))
    ).otherwise(F.xxhash64("url"))


def fan_out(df: DataFrame, num_partitions: int | None) -> int:
    """Task count of an extraction stage over ``df``: ``num_partitions``
    when given, else one task per task slot (``defaultParallelism``:
    all executor cores), so the stage runs ONE Python wave. Every
    Python task pays a fixed hand-off latency on top of its kernel
    time (about 50 ms per wave with ``zipguard`` installed: identity
    ``mapInPandas`` at ``local[4]`` on a 4-core box takes 0.16-0.23 s
    for 4 tasks, 0.30-0.36 s for 16), so a second wave costs that
    latency again on every core."""
    return num_partitions or df.sparkSession.sparkContext.defaultParallelism


def spread(
    df: DataFrame, cols: list[str], num_partitions: int | None = None
) -> DataFrame:
    """``df`` pruned to ``cols`` and hash-repartitioned on the first
    (the doc id) into :func:`fan_out` tasks. A small parquet table
    arrives as ONE input split, which would serialize a whole Python
    stage onto one task; the projection keeps the exchange and the
    Arrow hand-off to the columns the stage reads (``mapInPandas``
    ships every input column — Spark cannot see into the function)."""
    return df.select(*cols).repartition(
        fan_out(df, num_partitions), F.col(cols[0])
    )


def _map_batches(df: DataFrame, schema: str, outputs) -> DataFrame:
    """One ``mapInPandas`` stage: ``outputs(rows)`` turns one Arrow
    batch's input rows (tuples of Python objects, in ``df``'s column
    order) into its output rows — tuples in ``schema`` order, or dicts
    keyed by column name. One Python call per batch, never per row."""
    names = T.StructType.fromDDL(schema).fieldNames()

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = zip(*(pdf[c].tolist() for c in pdf.columns))
            yield pd.DataFrame(list(outputs(rows)), columns=names)

    return df.mapInPandas(body, schema)


def map_rows(df: DataFrame, rows_of, schema: str) -> DataFrame:
    """Row-function stage: ``rows_of(*row)`` gets one input row's
    values and returns that row's output rows — none, one or many."""
    return _map_batches(
        df, schema, lambda rows: (o for r in rows for o in rows_of(*r))
    )


def map_groups(df: DataFrame, size: int, rows_of, schema: str) -> DataFrame:
    """Container stage: within each Arrow batch the rows group by
    ``doc_id // size`` (``doc_id`` is the first column), and
    ``rows_of(gid, rows)`` builds and reads one container per group
    (input row tuples in batch order)."""

    def outputs(rows):
        groups: dict[int, list[tuple]] = {}
        for r in rows:
            groups.setdefault(r[0] // size, []).append(r)
        return (o for gid, g in groups.items() for o in rows_of(gid, g))

    return _map_batches(df, schema, outputs)


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """pages(url, warc_ts, html, ...) → extracted DataFrame.

    ``num_partitions=None`` (the default) routes into one partition per
    task slot, so the extraction stage runs one Python wave
    (:func:`fan_out`); an explicit count is honoured as given.

    Column-prunes to exactly (url, warc_ts, html) before the exchange so
    the shuffle and the Arrow transfer never carry unused columns. ONE
    scan, ONE exchange: size routing happens inside the shuffle key
    (:func:`_routing_key`), not as separate filtered branches — a
    two-branch plan would read the full pages table twice (binary
    length has no parquet stats, so neither filter prunes row groups).
    """
    pruned = pages.select("url", "warc_ts", "html")
    routed = pruned.repartition(
        fan_out(pages, num_partitions), _routing_key(cfg)
    )
    fn = _make_extract_iter(cfg)
    return routed.mapInPandas(fn, OUTPUT_SCHEMA)


def metrics_from_extracted(extracted: DataFrame) -> DataFrame:
    """Per-partition metrics rollup (FIXTURES.md §6 shape).

    ``batch_ms`` is constant within one Arrow batch, so wall time per
    partition = Σ over distinct batches — a two-level partial
    aggregation, all map-side combinable. A batch is keyed by
    (part_id, batch_id, extracted_at): every extraction call restarts
    part_id and batch_id at 0, so on a table fed by several calls only
    the batch's timestamp tells their batches apart.
    """
    per_batch = extracted.groupBy("part_id", "batch_id", "extracted_at").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("ok").cast("long")).alias("n_ok"),
        F.sum((~F.col("ok")).cast("long")).alias("n_failed"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("chars_out").alias("chars_out"),
        F.first("batch_ms").alias("batch_ms"),
        F.first("host").alias("host"),
        F.max("attempt").alias("attempt"),
    )
    return per_batch.groupBy("part_id").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_ok").alias("n_ok"),
        F.sum("n_failed").alias("n_failed"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("chars_out").alias("chars_out"),
        F.sum("batch_ms").alias("wall_ms"),
        F.first("host").alias("host"),
        F.max("attempt").alias("attempt"),
    )
