"""End-to-end composition test: the stages a training-data pipeline
actually chains, run against each other's REAL outputs rather than
fixtures designed per stage.

    pages parquet → extraction job → documents frame →
    exact-dedup canonicalization → recipe filter →
    leakage-safe split → sequence packing

Each individual stage has its own oracle-checked catalog entry; what
this test pins is INTEROP — that the schemas, id spaces and
invariants line up when the output of one stage is the input of the
next (no row loss, dedup removes the planted duplicate, every kept
document lands in exactly one packed position)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.fixtures.corpus import build_pages_frame
from pdf_extractor_spark.functions.packing import pack_sequences
from pdf_extractor_spark.functions.recipe import pretraining_filter
from pdf_extractor_spark.functions.sampling import holdout_split_report
from pdf_extractor_spark.sources.icetable import read_table
from pdf_extractor_spark.sources.pages import (
    PAGES_SCHEMA_DDL,
    read_pages,
    run_extraction_job,
    write_pages,
)


@pytest.fixture(scope="module")
def extracted(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cycle")
    frame = build_pages_frame()
    # plant an exact duplicate: the last page re-serves the first
    # page's payload under a new url (a mirror capture)
    dup = frame.iloc[[0]].copy()
    dup["url"] = ["https://mirror.example.org/copy-of-first"]
    frame = pd.concat([frame, dup], ignore_index=True)
    pages = spark.createDataFrame(frame, PAGES_SCHEMA_DDL)
    write_pages(pages, str(tmp / "pages"))
    run_extraction_job(
        spark,
        read_pages(spark, str(tmp / "pages")),
        str(tmp / "out"),
        str(tmp / "metrics"),
        num_partitions=4,
    )
    return read_table(spark, str(tmp / "out")), len(frame)


class TestFullCycle:
    def test_extraction_to_documents_no_loss(self, spark, extracted):
        out, n_in = extracted
        assert out.count() == n_in
        assert out.select("url").distinct().count() == n_in

    def test_dedup_catches_cross_stage_duplicate(self, spark, extracted):
        out, n_in = extracted
        docs = out.where(F.col("ok")).select(
            F.abs(F.hash("url")).cast("long").alias("doc_id"),
            F.lit("en").alias("lang"),
            F.col("extracted_text").alias("text"),
        )
        n_docs = docs.count()
        flags = pretraining_filter(docs)
        assert flags.count() == n_docs  # flag frame is 1:1 with docs
        # the planted mirror page must lose canonicality somewhere:
        # exactly one more doc than distinct texts
        n_unique = docs.select(F.md5("text")).distinct().count()
        n_canon = flags.where("is_canonical").count()
        assert n_canon == n_unique
        assert n_docs - n_unique >= 1  # the plant (plus any fixture dups)

    def test_kept_docs_pack_exactly_once(self, spark, extracted):
        out, _ = extracted
        docs = out.where(F.col("ok")).select(
            F.abs(F.hash("url")).cast("long").alias("doc_id"),
            F.lit("en").alias("lang"),
            F.col("extracted_text").alias("text"),
        )
        flags = pretraining_filter(docs)
        kept = docs.join(
            flags.where("keep").select("doc_id"), "doc_id"
        )
        packed = pack_sequences(kept, budget=128, shard_docs=1 << 40)
        n_kept = kept.count()
        assert packed.count() == n_kept
        assert packed.select("doc_id").distinct().count() == n_kept
        # token conservation: packed token totals == source totals
        src_tokens = kept.select(
            F.sum(F.size(F.split("text", " ")))
        ).collect()[0][0]
        packed_tokens = packed.agg(F.sum("n_tokens")).collect()[0][0]
        assert packed_tokens == src_tokens
        # offsets are consistent: within a shard, positions are
        # strictly increasing in doc_id order
        rows = sorted(
            packed.collect(), key=lambda r: (r.shard_id, r.doc_id)
        )
        pos = {}
        for r in rows:
            absolute = r.seq_in_shard * 128 + r.seq_offset
            assert pos.get(r.shard_id, -1) < absolute or r.n_tokens == 0
            pos[r.shard_id] = absolute

    def test_split_covers_every_kept_doc(self, spark, extracted):
        out, _ = extracted
        docs = out.where(F.col("ok")).select(
            F.abs(F.hash("url")).cast("long").alias("doc_id"),
            F.lit("en").alias("lang"),
            F.lit("cycle").alias("source"),
            F.col("extracted_text").alias("text"),
        )
        split = holdout_split_report(docs)
        assert split.count() == docs.count()
        assert split.where(
            ~F.col("split").isin("train", "valid", "test")
        ).count() == 0
        # domain-level leakage safety: one split per registered domain
        leaky = (
            split.groupBy("registered_domain")
            .agg(F.countDistinct("split").alias("k"))
            .where("k > 1")
            .count()
        )
        assert leaky == 0
