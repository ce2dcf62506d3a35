"""WARC source: record framing, gzip members, HTTP transfer codings,
salvage behavior, and the Spark roundtrip plan shape."""

from __future__ import annotations

import gzip
import re

import pytest

from pdf_extractor_spark.operators.transport import (
    dechunk,
    parse_headers,
    unwrap,
)
from pdf_extractor_spark.sources.warc import (
    build_archive,
    extract_responses,
    http_response,
    parse_warc,
    warc_record,
)

PAGES = [(i, f"Body text of document {i} with several words.")
         for i in range(16)]


class TestFraming:
    @pytest.mark.parametrize("gz", [True, False])
    def test_multi_record_archive_roundtrips(self, gz):
        arc = build_archive(PAGES, gzip_members=gz)
        rows = extract_responses(arc)
        assert [r["doc_id"] for r in rows] == [p[0] for p in PAGES]
        for (doc_id, text), row in zip(PAGES, rows):
            assert row["extracted_text"] == text

    def test_non_response_records_are_skipped(self):
        recs = parse_warc(build_archive(PAGES[:8], gzip_members=False))
        types = [r["type"] for r in recs]
        assert types[0] == "warcinfo"
        assert types.count("request") == 8
        assert types.count("response") == 8
        # doc_id 0 and 7 both carry trailing metadata records
        assert types.count("metadata") == 2

    def test_warc_date_encodes_doc_id_offset(self):
        rows = extract_responses(build_archive(PAGES))
        assert rows[0]["warc_ts"] == "2024-01-01T00:00:00Z"
        assert rows[11]["warc_ts"] == "2024-01-01T00:00:11Z"

    def test_truncated_gzip_archive_salvages_prefix(self):
        arc = build_archive(PAGES, gzip_members=True)
        rows = extract_responses(arc[: len(arc) // 2])
        assert 0 < len(rows) < len(PAGES)
        for row in rows:  # everything salvaged is still byte-exact
            assert row["extracted_text"] == PAGES[row["doc_id"]][1]

    def test_bad_content_length_stops_scan(self):
        good = warc_record("response", {
            "WARC-Target-URI": "https://corpus.example/doc/1",
            "WARC-Date": "2024-01-01T00:00:01Z",
        }, b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nhi")
        bad = re.sub(rb"Content-Length: \d+", b"Content-Length: zz",
                     good, count=1)  # the WARC-level length line
        assert parse_warc(good + bad) and not parse_warc(bad + good)

    def test_archive_split_is_row_invariant(self):
        whole = extract_responses(build_archive(PAGES))
        split = extract_responses(
            build_archive(PAGES[:5])
        ) + extract_responses(build_archive(PAGES[5:]))
        assert sorted(map(str, whole)) == sorted(map(str, split))


class TestHttpLayer:
    def test_chunked_body_dechunks(self):
        payload = http_response(b"x" * 350, chunked=True)
        body, charset, notes = unwrap(payload)
        assert body == b"x" * 350
        assert charset == "utf-8"
        assert notes == ["http response headers stripped (charset=utf-8)"]

    def test_gzip_content_encoding_survives_normalize(self):
        payload = http_response(b"<p>hi</p>", gzip_body=True)
        body, _, notes = unwrap(payload)
        assert body == b"<p>hi</p>"
        assert notes[1:] == ["gzip transport wrapper stripped"]

    def test_chunked_over_gzip_composes(self):
        # content coding applied first, transfer coding second
        payload = http_response(b"<p>deep</p>", chunked=True,
                                gzip_body=True)
        assert unwrap(payload)[0] == b"<p>deep</p>"

    def test_dechunk_malformed_degrades_to_raw(self):
        assert dechunk(b"nothex\r\nabc") == b"nothex\r\nabc"

    def test_header_folding_and_case(self):
        h = parse_headers(
            b"WARC-Type: response\r\nX-Long: part one\r\n\tpart two\r\n"
        )
        assert h["warc-type"] == "response"
        assert h["x-long"] == "part one part two"

    def test_lf_only_headers_tolerated(self):
        rec = warc_record("response", {
            "WARC-Target-URI": "https://corpus.example/doc/2",
            "WARC-Date": "2024-01-01T00:00:02Z",
        }, b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok")
        assert parse_warc(rec.replace(b"\r\n", b"\n"))[0]["type"] == \
            "response"


class TestSparkStage:
    def test_roundtrip_matches_documents_text(self, spark):
        from pdf_extractor_spark.sources.warc import warc_roundtrip

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(40)
        got = {r.doc_id: (r.warc_ts, r.extracted_text)
               for r in warc_roundtrip(docs).collect()}
        for row in docs.collect():
            ts, text = got[row.doc_id]
            assert text == row.text
            assert ts.endswith("Z") and ts.startswith("2024-01-01T")

    def test_plan_single_exchange_single_arrow_stage(self, spark):
        from pdf_extractor_spark.functions.query_catalog import CATALOG

        df = CATALOG["extract_warc_roundtrip"].spark(
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
        assert plan.count("MapInPandas") == 1
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and set(
            c.split(":")[0] for c in m.group(1).split(",")
        ) == {"doc_id", "text"}


class TestDocumentRouting:
    def test_extract_document_unwraps_first_response_only(self):
        from pdf_extractor_spark.fixtures.corpus import (
            _html_article, _html_warc_capture)
        from pdf_extractor_spark.operators.document import (
            extract_document)

        rec = extract_document(_html_warc_capture())
        ref = extract_document(_html_article())
        assert rec["extracted_text"] == ref["extracted_text"]
        assert "decoy" not in rec["extracted_text"]
        msgs = [e["message"] for e in rec["errors"]]
        assert "warc response record unwrapped" in msgs

    def test_warc_without_response_degrades_gracefully(self):
        from pdf_extractor_spark.operators.document import (
            extract_document)

        rec = extract_document(
            warc_record("warcinfo", {
                "WARC-Date": "2024-01-01T00:00:00Z",
            }, b"software: x\r\n")
        )
        assert isinstance(rec["extracted_text"], str)
        assert not any(
            e["severity"] == "critical" for e in rec["errors"]
        ) or rec["extracted_text"] == ""


class TestHeaderTerminators:
    def test_lf_headers_with_crlf_payload_split_at_earliest(self):
        # review regression: an LF-terminated WARC header block whose
        # payload opens with CRLF-terminated HTTP headers must split
        # at the LF-LF blank line, not at the first CRLF-CRLF inside
        # the payload (which would absorb the HTTP headers and adopt
        # the HTTP Content-Length as the record length)
        from pdf_extractor_spark.sources.warc import parse_warc

        body = b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nhi"
        rec = (
            b"WARC/1.0\n"
            b"WARC-Type: response\n"
            b"WARC-Target-URI: https://x.example/a\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\n"
            b"Content-Length: " + str(len(body)).encode() + b"\n"
            b"\n" + body + b"\r\n\r\n"
            b"WARC/1.0\n"
            b"WARC-Type: metadata\n"
            b"Content-Length: 0\n\n"
        )
        records = parse_warc(rec)
        assert [r["type"] for r in records] == ["response", "metadata"]
        assert records[0]["url"] == "https://x.example/a"
        assert records[0]["payload"] == body
        # the HTTP headers must NOT have leaked into the WARC headers
        assert "content-length" in records[0]["headers"]
        assert records[0]["headers"]["content-length"] == str(len(body))


class TestWetSink:
    def test_wet_roundtrip_bytes_and_refers_to(self):
        from pdf_extractor_spark.sources.warc import (
            _record_id, build_archive, build_wet, extract_responses,
            parse_warc, parse_wet)

        pages = [(i, f"Body of document number {i} with words.")
                 for i in range(12)]
        ext = extract_responses(build_archive(pages))
        wet = build_wet(
            [(r["doc_id"], r["warc_ts"], r["extracted_text"])
             for r in ext], gzip_members=False)
        back = parse_wet(wet)
        assert [(r["doc_id"], r["extracted_text"]) for r in back] \
            == pages
        assert [r["warc_ts"] for r in back] \
            == [r["warc_ts"] for r in ext]
        # conversion records must point back at their source response
        recs = [r for r in parse_warc(wet) if r["type"] == "conversion"]
        for rec in recs:
            assert rec["headers"]["warc-refers-to"] \
                == _record_id("resp", rec["url"])
            assert rec["headers"]["content-type"] == "text/plain"

    def test_wet_gzip_members_roundtrip(self):
        from pdf_extractor_spark.sources.warc import (
            build_archive, build_wet, extract_responses, parse_wet)

        pages = [(i, f"Gzip member doc {i} body text.")
                 for i in range(4)]
        ext = extract_responses(build_archive(pages))
        wet = build_wet(
            [(r["doc_id"], r["warc_ts"], r["extracted_text"])
             for r in ext], gzip_members=True)
        assert wet[:2] == b"\x1f\x8b"
        assert [r["doc_id"] for r in parse_wet(wet)] == [0, 1, 2, 3]

    def test_wet_spark_stage_matches_oracle(self, spark):
        from pdf_extractor_spark.sources.warc import wet_roundtrip

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(40)
        got = {r.doc_id: (r.warc_ts, r.extracted_text)
               for r in wet_roundtrip(docs).collect()}
        for row in docs.collect():
            ts, text = got[row.doc_id]
            assert text == row.text


class TestKernelTransportCodings:
    """Transport containers routed straight into the kernel — the
    layouts a pages-table payload can arrive in without a WARC
    reader in front."""

    def _text(self):
        return ("the quick brown fox jumps over the lazy dog "
                "repeatedly for this transport coding test")

    def test_chunked_http_payload_dechunked(self):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.sources.docwrap import wrap_html
        from pdf_extractor_spark.sources.warc import http_response

        payload = http_response(wrap_html(self._text()), chunked=True)
        rec = extract_document(payload)
        # chunk-size hex tokens must never leak into the text
        assert rec["extracted_text"] == self._text()

    def test_chunked_plus_gzip_content_coding(self):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.sources.docwrap import wrap_html
        from pdf_extractor_spark.sources.warc import http_response

        payload = http_response(
            wrap_html(self._text()), chunked=True, gzip_body=True
        )
        rec = extract_document(payload)
        assert rec["extracted_text"] == self._text()

    def test_deflate_zlib_content_coding(self):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.sources.docwrap import wrap_html
        from pdf_extractor_spark.sources.warc import http_response

        payload = http_response(
            wrap_html(self._text()), deflate_body="zlib"
        )
        rec = extract_document(payload)
        assert rec["extracted_text"] == self._text()
        notes = [e["message"] for e in rec["errors"]]
        assert any("deflate content coding" in n for n in notes)

    def test_deflate_raw_legacy_server(self):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.sources.docwrap import wrap_html
        from pdf_extractor_spark.sources.warc import http_response

        # the old-IIS layout: bare DEFLATE under the deflate header
        payload = http_response(
            wrap_html(self._text()), deflate_body="raw"
        )
        rec = extract_document(payload)
        assert rec["extracted_text"] == self._text()
        notes = [e["message"] for e in rec["errors"]]
        assert any("raw-deflate" in n for n in notes)

    def test_deflate_plus_chunked_transfer(self):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.sources.docwrap import wrap_html
        from pdf_extractor_spark.sources.warc import http_response

        # transfer coding undone first, then the content coding
        payload = http_response(
            wrap_html(self._text()), deflate_body="raw", chunked=True
        )
        rec = extract_document(payload)
        assert rec["extracted_text"] == self._text()

    def test_deflate_garbage_body_degrades(self):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )

        # header promises deflate, body decodes under neither
        # framing: graded raw, never a raise
        payload = (b"HTTP/1.1 200 OK\r\n"
                   b"Content-Type: text/html\r\n"
                   b"Content-Encoding: deflate\r\n"
                   b"Content-Length: 9\r\n\r\n"
                   b"\x1f\x00garbage")
        rec = extract_document(payload)
        assert isinstance(rec["extracted_text"], str)

    def test_transport_rotation_all_variants_roundtrip(self):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.sources.docwrap import (
            wrap_html_transport,
        )

        # one full period of the 7x3 rotation (21 doc_ids) — every
        # container and hidden-junk combination must roundtrip
        for doc_id in range(21):
            rec = extract_document(
                wrap_html_transport(self._text(), doc_id)
            )
            assert rec["extracted_text"] == self._text(), doc_id

    def test_malformed_chunk_framing_degrades(self):
        # garbage size token: raw remainder kept, never a raise
        assert dechunk(b"zz\r\npayload") == b"zz\r\npayload"

    def test_bom_beats_lying_meta(self):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.sources.docwrap import (
            wrap_html_transport,
        )

        rec = extract_document(wrap_html_transport(self._text(), 3))
        assert rec["extracted_text"] == self._text()


class TestOneTransportDecoder:
    """The kernel peels transport layers with the WARC reader's
    decoder: one header-end rule, every gzip member, a bounded loop."""

    A = "alpha words fill the first block of this page"
    B = "bravo words fill the second block of this page"

    @staticmethod
    def _notes(rec):
        return [e["message"] for e in rec["errors"]
                if e["severity"] == "info"]

    def _members(self):
        return [f"<p>{w} {self.A} and {self.B}.</p>".encode()
                for w in ("one", "two", "three")]

    def test_lf_http_head_keeps_first_body_block(self):
        from pdf_extractor_spark.operators.document import extract_document

        # the head ends at its LF blank line, not at the CRLF blank
        # line inside the body
        payload = (b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n"
                   b"<html><body><p>" + self.A.encode() + b"</p>\r\n\r\n"
                   b"<p>" + self.B.encode() + b"</p></body></html>")
        rec = extract_document(payload)
        assert rec["extracted_text"] == f"{self.A}\n\n{self.B}"

    def test_cut_last_gzip_member_keeps_earlier_members(self):
        from pdf_extractor_spark.operators.document import extract_document

        members = self._members()
        data = b"".join(gzip.compress(m, mtime=0) for m in members)
        rec = extract_document(data[:-12])
        assert rec["extracted_text"].startswith(
            f"one {self.A} and {self.B}.\n\ntwo {self.A} and {self.B}.")
        body = unwrap(data[:-12])[0]
        assert body.startswith(members[0] + members[1])
        assert self._notes(rec) == [
            f"truncated gzip transport wrapper: {len(body)} bytes salvaged"]

    def test_gzip_trailing_bytes_are_not_truncation(self):
        from pdf_extractor_spark.operators.document import extract_document

        members = self._members()
        data = b"".join(gzip.compress(m, mtime=0) for m in members)
        rec = extract_document(data + b"trailing junk")
        assert rec["extracted_text"] == extract_document(
            b"".join(members))["extracted_text"]
        assert rec["extracted_text"].count(self.A) == 3
        assert self._notes(rec) == ["gzip transport wrapper stripped"]

    def test_notes_innermost_capture_first(self):
        from pdf_extractor_spark.operators.document import extract_document

        inner = http_response(f"<p>{self.A}</p>".encode(), gzip_body=True)
        capture = warc_record("response", {
            "WARC-Target-URI": "https://x.example/a",
            "WARC-Date": "2024-01-01T00:00:00Z",
        }, inner)
        rec = extract_document(http_response(capture, gzip_body=True,
                                             chunked=True))
        assert rec["extracted_text"] == self.A
        http = "http response headers stripped (charset=utf-8)"
        gz = "gzip transport wrapper stripped"
        assert self._notes(rec) == [
            http, gz, "warc response record unwrapped", http, gz]

    def test_layer_bound(self):
        from pdf_extractor_spark.operators.document import extract_document
        from pdf_extractor_spark.operators.transport import MAX_LAYERS

        payload = f"<p>{self.A}</p>".encode()
        for _ in range(MAX_LAYERS):
            payload = gzip.compress(payload, mtime=0)
        assert extract_document(payload)["extracted_text"] == self.A
        rec = extract_document(gzip.compress(payload, mtime=0))
        assert rec["extracted_text"] == ""
        assert [e["type"] for e in rec["errors"]] == ["resource_limit"]
        assert rec["errors"][0]["severity"] == "error"

    def test_deep_warc_nesting_fails_fast(self):
        import time

        from pdf_extractor_spark.operators.document import extract_document

        # 1,200 WARC-in-HTTP wrappers used to hit the recursion limit
        payload = http_response(f"<p>{self.A}</p>".encode())
        for _ in range(1200):
            payload = http_response(warc_record("response", {
                "WARC-Target-URI": "https://x.example/a",
                "WARC-Date": "2024-01-01T00:00:00Z",
            }, payload))
        t0 = time.perf_counter()
        rec = extract_document(payload)
        assert time.perf_counter() - t0 < 1.0
        assert len(rec["errors"]) <= 10
        assert [e["type"] for e in rec["errors"]] == ["resource_limit"]
        assert rec["errors"][0]["severity"] == "error"
