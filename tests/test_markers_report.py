"""F5 page-marker utilities + S8 CSV report sink tests."""

from __future__ import annotations

import csv
import glob

from pdf_extractor_spark.operators.markers import (
    format_document,
    remove_markers,
    remove_markers_col,
    split_by_pages,
)


class TestMarkers:
    PAGES = ["First page body text.", "Second page\nwith two lines.",
             "第三ページの本文です。"]

    def test_format_split_roundtrip(self):
        doc = format_document(self.PAGES, "sample.pdf")
        assert "[DOCUMENT FILENAME: sample.pdf]" in doc
        assert "--- PAGE 1 START ---" in doc
        assert "--- PAGE 3 END ---" in doc
        assert split_by_pages(doc) == self.PAGES

    def test_remove_markers_strips_everything(self):
        doc = format_document(self.PAGES, "sample.pdf")
        clean = remove_markers(doc)
        assert "PAGE" not in clean
        assert "FILENAME" not in clean
        for p in self.PAGES:
            assert p in clean
        assert clean == "\n\n".join(self.PAGES)

    def test_remove_markers_idempotent_on_clean_text(self):
        clean = "plain text\n\nwith paragraphs"
        assert remove_markers(clean) == clean

    def test_kernel_and_spark_twins_identical(self, spark):
        docs = [
            format_document(self.PAGES, f"doc{i}.pdf") for i in range(3)
        ] + ["no markers at all", "[TABLE: x]\ninside\n[TABLE END]"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "i long, t string"
        )
        from pyspark.sql import functions as F

        got = {
            r["i"]: r["clean"]
            for r in df.select(
                "i", remove_markers_col(F.col("t")).alias("clean")
            ).collect()
        }
        want = {i: remove_markers(t) for i, t in enumerate(docs)}
        assert got == want


class TestQualityMarkers:
    def test_append_and_position_insert(self):
        from pdf_extractor_spark.operators.markers import (
            add_quality_marker,
        )

        assert add_quality_marker("some text", "uncertain") == \
            "some text [?]"
        assert add_quality_marker("0123456789rest", "illegible", 10) == \
            "0123456789[illegible]rest"
        # unknown marker type is a no-op (reference behavior)
        assert add_quality_marker("x", "bogus_type") == "x"

    def test_taxonomy_matches_reference(self):
        from pdf_extractor_spark.operators.markers import QUALITY_MARKERS

        assert QUALITY_MARKERS["missing"] == "[missing text]"
        assert len(QUALITY_MARKERS) == 8

    def test_spark_twin_matches_kernel(self, spark):
        from pyspark.sql import functions as F

        from pdf_extractor_spark.operators.markers import (
            add_quality_marker,
            add_quality_marker_col,
        )

        texts = ["alpha beta gamma", "short", "0123456789 and the rest"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, t string"
        )
        for mtype, pos in [("uncertain", None), ("illegible", 10),
                           ("bogus_type", None)]:
            got = {
                r["i"]: r["m"]
                for r in df.select(
                    "i",
                    add_quality_marker_col(
                        F.col("t"), mtype, pos
                    ).alias("m"),
                ).collect()
            }
            want = {
                i: add_quality_marker(t, mtype, pos)
                for i, t in enumerate(texts)
            }
            assert got == want, (mtype, pos)


class TestCsvReport:
    def test_write_report_csv(self, spark, tmp_path):
        from pdf_extractor_spark.fixtures.corpus import build_pages_frame
        from pdf_extractor_spark.plans.pipeline import extract_pages
        from pdf_extractor_spark.sources.pages import (
            PAGES_SCHEMA_DDL,
            write_report_csv,
        )

        pages = spark.createDataFrame(build_pages_frame(), PAGES_SCHEMA_DDL)
        extracted = extract_pages(pages, num_partitions=4)
        out = str(tmp_path / "report_csv")
        write_report_csv(extracted, out)
        rows = []
        for path in glob.glob(f"{out}/*.csv"):
            with open(path, newline="") as fh:
                rows.extend(csv.DictReader(fh))
        assert len(rows) == pages.count()
        assert {"url", "score", "grade", "n_errors"} <= set(rows[0])
        scores = sorted((float(r["score"]) for r in rows), reverse=True)
        assert scores[0] >= scores[-1]


class TestHtmlReport:
    def test_write_report_html(self, spark, tmp_path):
        from pdf_extractor_spark.fixtures.corpus import build_pages_frame
        from pdf_extractor_spark.plans.pipeline import extract_pages
        from pdf_extractor_spark.sources.pages import (
            PAGES_SCHEMA_DDL,
            write_report_html,
        )

        pages = spark.createDataFrame(build_pages_frame(), PAGES_SCHEMA_DDL)
        extracted = extract_pages(pages, num_partitions=4)
        out = tmp_path / "report.html"
        write_report_html(extracted, str(out), top_n=5)
        html = out.read_text(encoding="utf-8")
        assert html.startswith("<!DOCTYPE html>")
        assert f"docs: {pages.count()}" in html
        # top_n bounds the table: 5 data rows + 1 header row
        assert html.count("<tr>") == 6
        # urls are escaped/present
        assert "https://" in html
