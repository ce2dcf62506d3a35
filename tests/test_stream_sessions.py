"""Tests for the applyInPandasWithState crawl sessionizer
(streaming/sessions.py): gap semantics, exactly-once emission of
closed sessions, state survival across restarts, late-event
clamping."""

from __future__ import annotations

import pandas as pd
import pytest

from pdf_extractor_spark.sources.pages import PAGES_SCHEMA_DDL
from pdf_extractor_spark.streaming.sessions import stream_host_sessions

GAP = 100  # seconds, small for tests

T0 = pd.Timestamp("2026-01-01 00:00:00")


def _frame(rows):
    # rows: (host, offset_s)
    return pd.DataFrame(
        {
            "url": [f"https://{h}/p{i}" for i, (h, _) in enumerate(rows)],
            "warc_ts": [T0 + pd.Timedelta(seconds=s) for _, s in rows],
            "html": [b"<html><body>x</body></html>"] * len(rows),
            "text": [""] * len(rows),
            "lang": ["en"] * len(rows),
        }
    )


@pytest.fixture()
def dirs(tmp_path):
    (tmp_path / "pages").mkdir()
    return {
        "pages": str(tmp_path / "pages"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(spark, dirs):
    q = stream_host_sessions(
        spark, dirs["pages"], dirs["out"], dirs["ckpt"], gap_s=GAP
    )
    q.awaitTermination()


def _sessions(spark, dirs):
    try:
        return sorted(
            spark.read.parquet(dirs["out"]).collect(),
            key=lambda r: (r.host, r.session_start),
        )
    except Exception:
        return []


class TestSessions:
    def test_gap_closes_session(self, spark, dirs):
        # host a: two bursts separated by > GAP; host b: one burst.
        # Only host a's FIRST burst closes (b's burst and a's second
        # stay open in state — nothing newer arrived to close them)
        rows = [
            ("a.com", 0), ("a.com", 50), ("a.com", 120),
            ("a.com", 500), ("a.com", 510),
            ("b.com", 0), ("b.com", 90),
        ]
        spark.createDataFrame(_frame(rows), PAGES_SCHEMA_DDL).write.mode(
            "append"
        ).parquet(dirs["pages"])
        _drain(spark, dirs)
        got = _sessions(spark, dirs)
        assert len(got) == 1
        s = got[0]
        base = int(T0.timestamp())
        assert s.host == "a.com"
        assert (s.session_start, s.session_end, s.n_docs) == (
            base, base + 120, 3
        )

    def test_state_survives_restart_and_no_duplicates(self, spark, dirs):
        # wave 1 opens a session on c.com; wave 2 (a separate run,
        # fresh query, same checkpoint) extends then closes it — the
        # closed row reflects BOTH waves and is emitted exactly once
        base = int(T0.timestamp())
        spark.createDataFrame(
            _frame([("c.com", 0), ("c.com", 60)]), PAGES_SCHEMA_DDL
        ).write.mode("append").parquet(dirs["pages"])
        _drain(spark, dirs)
        assert _sessions(spark, dirs) == []  # still open

        spark.createDataFrame(
            _frame([("c.com", 130), ("c.com", 1000)]), PAGES_SCHEMA_DDL
        ).write.mode("append").parquet(dirs["pages"])
        _drain(spark, dirs)
        got = _sessions(spark, dirs)
        assert len(got) == 1
        s = got[0]
        # 0, 60, 130 chain (gaps 60, 70 <= 100); 1000 breaks it
        assert (s.session_start, s.session_end, s.n_docs) == (
            base, base + 130, 3
        )

        # third run with nothing new: no re-emission
        _drain(spark, dirs)
        assert len(_sessions(spark, dirs)) == 1

    def test_late_event_clamped_into_open_session(self, spark, dirs):
        # the late path needs two batches: within one batch events
        # sort into order and nothing is "late". Batch 1 opens the
        # session at 100; batch 2 delivers 40 (older than the open
        # session's last) and 600 (the closer).
        base = int(T0.timestamp())
        spark.createDataFrame(
            _frame([("d.com", 100)]), PAGES_SCHEMA_DDL
        ).write.mode("append").parquet(dirs["pages"])
        _drain(spark, dirs)
        # batch 2: a LATE event (40) plus the closer (600)
        spark.createDataFrame(
            _frame([("d.com", 40), ("d.com", 600)]), PAGES_SCHEMA_DDL
        ).write.mode("append").parquet(dirs["pages"])
        _drain(spark, dirs)
        got = _sessions(spark, dirs)
        assert len(got) == 1
        s = got[0]
        # late 40 joined the open session without moving its end
        assert (s.session_start, s.session_end, s.n_docs) == (
            base + 100, base + 100, 2
        )
