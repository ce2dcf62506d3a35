"""Structured-Streaming incremental extraction tests (SURVEY.md §2.11).

Scenario: pages files land in a directory in two waves; each
``stream_extract`` run drains what is available (availableNow) and
stops. Asserts: (1) wave 1 extracted; (2) wave 2 run picks up ONLY new
urls — no duplicates, no loss; (3) a third run with nothing new is a
no-op; (4) streaming output matches the batch pipeline byte-for-byte.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pdf_extractor_spark.fixtures.corpus import build_pages_frame
from pdf_extractor_spark.sources.icetable import (
    current_snapshot_id,
    read_table,
)
from pdf_extractor_spark.sources.pages import PAGES_SCHEMA_DDL
from pdf_extractor_spark.streaming.incremental import stream_extract


def pages_from_pandas(spark, frame: pd.DataFrame):
    return spark.createDataFrame(frame, PAGES_SCHEMA_DDL)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "pages": str(tmp_path / "pages"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    (tmp_path / "pages").mkdir()
    return d


def _drain(spark, dirs):
    q = stream_extract(
        spark, dirs["pages"], dirs["out"], dirs["ckpt"], num_partitions=2
    )
    q.awaitTermination()


def test_incremental_two_waves_no_dup_no_loss(spark, dirs):
    frame = build_pages_frame()
    wave1, wave2 = frame.iloc[:10], frame.iloc[10:]

    pages_from_pandas(spark, wave1).write.mode("append").parquet(
        dirs["pages"]
    )
    _drain(spark, dirs)
    out1 = read_table(spark, dirs["out"])
    assert out1.count() == len(wave1)

    pages_from_pandas(spark, wave2).write.mode("append").parquet(
        dirs["pages"]
    )
    _drain(spark, dirs)
    out2 = read_table(spark, dirs["out"])
    assert out2.count() == len(frame)
    assert out2.select("url").distinct().count() == len(frame)

    # wave-1 rows were not re-extracted (attempt/extraction identity is
    # irrelevant; count per url == 1 is the MERGE guarantee)
    snap = current_snapshot_id(dirs["out"])
    _drain(spark, dirs)  # third run: nothing new
    assert current_snapshot_id(dirs["out"]) == snap
    out3 = read_table(spark, dirs["out"])
    assert out3.count() == len(frame)


def test_streaming_matches_batch_pipeline(spark, dirs, tmp_path):
    from pdf_extractor_spark.plans.pipeline import extract_pages

    frame = build_pages_frame()
    pages_from_pandas(spark, frame).write.mode("append").parquet(
        dirs["pages"]
    )
    _drain(spark, dirs)
    streamed = {
        r["url"]: r["extracted_text"]
        for r in read_table(spark, dirs["out"])
        .select("url", "extracted_text")
        .collect()
    }
    batch = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(
            pages_from_pandas(spark, frame), num_partitions=2
        )
        .select("url", "extracted_text")
        .collect()
    }
    assert streamed == batch


def test_stateful_running_stats_across_restarts(spark, dirs, tmp_path):
    """applyInPandasWithState: per-lang running totals must carry state
    across micro-batches AND across query restarts (state store in the
    streaming checkpoint)."""
    from pdf_extractor_spark.streaming.incremental import (
        stream_running_lang_stats,
    )

    sink = str(tmp_path / "stats")
    ckpt2 = str(tmp_path / "ckpt_stats")
    frame = build_pages_frame()
    wave1, wave2 = frame.iloc[:10], frame.iloc[10:]

    def totals():
        df = spark.read.parquet(sink).toPandas()
        # one row per lang per batch; take each lang's latest emitted
        # row (a lang not updated in the last batch keeps its old total)
        latest = (
            df.sort_values(["batch_id"]).groupby("lang").tail(1)
        )
        return {
            r["lang"]: (r["n_docs"], r["bytes_in"])
            for _i, r in latest.iterrows()
        }

    pages_from_pandas(spark, wave1).write.mode("append").parquet(
        dirs["pages"]
    )
    q = stream_running_lang_stats(spark, dirs["pages"], sink, ckpt2)
    q.awaitTermination()
    got1 = totals()
    want1 = {
        lang: (len(g), int(g["html"].map(len).sum()))
        for lang, g in wave1.groupby("lang")
    }
    assert got1 == want1

    pages_from_pandas(spark, wave2).write.mode("append").parquet(
        dirs["pages"]
    )
    q = stream_running_lang_stats(spark, dirs["pages"], sink, ckpt2)
    q.awaitTermination()
    got2 = totals()
    want2 = {
        lang: (len(g), int(g["html"].map(len).sum()))
        for lang, g in frame.groupby("lang")
    }
    assert got2 == want2


def test_windowed_watermark_finalizes_and_drops_late(spark, tmp_path):
    """Event-time windows + watermark: a window is emitted exactly once
    when the watermark passes it; records later than the allowed
    lateness are dropped, not re-opened."""
    import datetime as dt

    from pdf_extractor_spark.streaming.incremental import (
        stream_windowed_ingest_stats,
    )

    pages = str(tmp_path / "pages_w")
    sink = str(tmp_path / "win_stats")
    ckpt = str(tmp_path / "ckpt_win")
    t0 = dt.datetime(2025, 3, 1, 0, 30)

    def frame(rows):
        return pd.DataFrame(
            [
                {"url": f"https://fixture.test/w/{i}",
                 "warc_ts": ts, "html": b"<p>windowed body text</p>",
                 "text": "", "lang": "en"}
                for i, ts in rows
            ]
        )

    # wave 1: hours 0,0,1,4 — watermark lands at 04:30-1h = 03:30, so
    # windows [00:00) and [01:00) finalize; [04:00) stays open
    wave1 = frame([(0, t0), (1, t0), (2, t0 + dt.timedelta(hours=1)),
                   (3, t0 + dt.timedelta(hours=4))])
    pages_from_pandas(spark, wave1).write.mode("append").parquet(pages)
    stream_windowed_ingest_stats(spark, pages, sink, ckpt
                                 ).awaitTermination(120)
    out1 = spark.read.parquet(sink).toPandas()
    got1 = {
        r["window_start"].hour: r["n_docs"] for _i, r in out1.iterrows()
    }
    assert got1 == {0: 2, 1: 1}

    # wave 2: one LATE record for hour 0 (already finalized → dropped)
    # and fresh records at hours 4 and 7; the new watermark (06:30)
    # finalizes [04:00) — which must NOT include the late row
    wave2 = frame([(10, t0 + dt.timedelta(minutes=1)),
                   (11, t0 + dt.timedelta(hours=4, minutes=5)),
                   (12, t0 + dt.timedelta(hours=7))])
    pages_from_pandas(spark, wave2).write.mode("append").parquet(pages)
    stream_windowed_ingest_stats(spark, pages, sink, ckpt
                                 ).awaitTermination(120)
    out2 = spark.read.parquet(sink).toPandas()
    got2 = {
        r["window_start"].hour: r["n_docs"] for _i, r in out2.iterrows()
    }
    # hour-0 window emitted once with the original count; hour-4 window
    # finalized with both on-time rows; hour-7 still open
    assert got2 == {0: 2, 1: 1, 4: 2}


def test_streaming_upsert_replaces_recrawls(spark, dirs):
    """Re-crawl-aware stream: wave 1 inserts; wave 2 re-crawls one url
    with a newer warc_ts (must replace) and one with an older warc_ts
    (must be skipped), plus a brand-new url (must insert)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from pdf_extractor_spark.streaming.incremental import (
        stream_extract_upsert,
    )

    def drain():
        q = stream_extract_upsert(
            spark, dirs["pages"], dirs["out"], dirs["ckpt"],
            num_partitions=2,
        )
        q.awaitTermination()

    frame = build_pages_frame().iloc[:6].reset_index(drop=True)
    pages_from_pandas(spark, frame).write.mode("append").parquet(
        dirs["pages"]
    )
    drain()
    n0 = read_table(spark, dirs["out"]).count()
    assert n0 == len(frame)
    urls = sorted(frame["url"])
    newer_url, older_url = urls[0], urls[1]
    old_text = {
        r["url"]: r["extracted_text"]
        for r in read_table(spark, dirs["out"]).select(
            "url", "extracted_text"
        ).collect()
    }

    wave2 = frame.iloc[:3].copy().reset_index(drop=True)
    recrawl_html = b"<html><body><p>recrawled body text entirely new" \
        b" content here</p></body></html>"
    wave2.loc[0, "url"] = newer_url
    wave2.loc[0, "warc_ts"] = frame["warc_ts"].max() + dt.timedelta(days=2)
    wave2.loc[0, "html"] = recrawl_html
    wave2.loc[1, "url"] = older_url
    wave2.loc[1, "warc_ts"] = frame["warc_ts"].min() - dt.timedelta(days=2)
    wave2.loc[1, "html"] = recrawl_html
    wave2.loc[2, "url"] = "https://fixture.test/html/brand-new"
    wave2.loc[2, "html"] = recrawl_html
    pages_from_pandas(spark, wave2).write.mode("append").parquet(
        dirs["pages"]
    )
    drain()

    after = read_table(spark, dirs["out"])
    assert after.count() == n0 + 1
    assert after.select("url").distinct().count() == n0 + 1
    got = {
        r["url"]: r["extracted_text"]
        for r in after.select("url", "extracted_text").collect()
    }
    assert got[newer_url] != old_text[newer_url]       # replaced
    assert "recrawled body text" in got[newer_url]
    assert got[older_url] == old_text[older_url]       # stale skipped
    assert "recrawled body text" in got[
        "https://fixture.test/html/brand-new"
    ]


def test_stream_dedup_suppresses_in_window_refetches(spark, dirs):
    """dropDuplicatesWithinWatermark on the ingest stream: re-fetches
    of a url inside the watermark horizon never reach the sink; each
    url lands exactly once, first-arrival-wins, bounded state."""
    import datetime as dt

    from pdf_extractor_spark.streaming.incremental import (
        stream_dedup_ingest,
    )

    frame = build_pages_frame().iloc[:6].reset_index(drop=True)
    dup = frame.iloc[:2].copy().reset_index(drop=True)
    # re-fetch two urls a few minutes later — inside the 1h horizon
    dup["warc_ts"] = dup["warc_ts"] + dt.timedelta(minutes=5)
    wave = pd.concat([frame, dup], ignore_index=True)
    pages_from_pandas(spark, wave).write.mode("append").parquet(
        dirs["pages"]
    )

    q = stream_dedup_ingest(
        spark, dirs["pages"], dirs["out"], dirs["ckpt"]
    )
    q.awaitTermination()

    out = spark.read.parquet(dirs["out"])
    assert out.count() == len(frame)  # 8 in, 6 out
    assert out.select("url").distinct().count() == len(frame)

    # drain again with nothing new: no duplicates appear
    q2 = stream_dedup_ingest(
        spark, dirs["pages"], dirs["out"], dirs["ckpt"]
    )
    q2.awaitTermination()
    assert spark.read.parquet(dirs["out"]).count() == len(frame)
