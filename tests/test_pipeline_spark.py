"""Spark end-to-end pipeline tests on local[2] (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import datetime as dt
import json
import pathlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.config import DEFAULT_CONFIG
from pdf_extractor_spark.fixtures.corpus import build_pages_frame
from pdf_extractor_spark.plans.pipeline import (
    extract_pages,
    metrics_from_extracted,
    partition_pages,
)
from pdf_extractor_spark.sources.pages import (
    pages_from_pandas,
    read_pages,
    resume_filter,
    run_extraction_job,
    write_pages,
)

GOLDEN_DIR = pathlib.Path(__file__).parent / "golden"


@pytest.fixture(scope="module")
def pages_df(spark):
    return pages_from_pandas(spark, build_pages_frame()).cache()


def test_extracted_matches_goldens_through_spark(spark, pages_df):
    rows = extract_pages(pages_df, num_partitions=4).collect()
    assert len(rows) == pages_df.count()
    by_case = {r["url"].rsplit("/", 1)[-1]: r for r in rows}
    for cid, row in by_case.items():
        golden = (GOLDEN_DIR / f"{cid}.txt").read_bytes()
        assert row["extracted_text"].encode("utf-8") == golden, cid
        meta = json.loads((GOLDEN_DIR / f"{cid}.spans.json").read_text())
        got = [[s["start"], s["end"], s["kind"], s["page"]]
               for s in row["spans"]]
        assert got == meta["spans"], cid


def test_resume_is_idempotent(spark, pages_df, tmp_path):
    out = str(tmp_path / "extracted")
    write_pages(pages_from_pandas(spark, build_pages_frame()),
                str(tmp_path / "pages"))
    pages = read_pages(spark, str(tmp_path / "pages"))

    run_extraction_job(spark, pages, out, num_partitions=4)
    n1 = spark.read.parquet(out).count()
    run_extraction_job(spark, pages, out, num_partitions=4)
    e = spark.read.parquet(out)
    assert e.count() == n1
    assert e.select("url").distinct().count() == n1


def test_resume_processes_only_missing(spark, tmp_path):
    """Simulated partial failure: half the corpus already extracted;
    a re-run must add exactly the missing urls (FIXTURES.md §6)."""
    frame = build_pages_frame()
    half = frame.iloc[: len(frame) // 2]
    out = str(tmp_path / "extracted")
    run_extraction_job(
        spark, pages_from_pandas(spark, half), out, num_partitions=2
    )
    n_half = spark.read.parquet(out).count()
    assert n_half == len(half)

    full = pages_from_pandas(spark, frame)
    todo = resume_filter(full, spark, out)
    assert todo.count() == len(frame) - len(half)
    run_extraction_job(spark, full, out, num_partitions=2)
    e = spark.read.parquet(out)
    assert e.count() == len(frame)
    assert e.select("url").distinct().count() == len(frame)


def test_upsert_replaces_only_newer_recrawls(spark, tmp_path):
    """MERGE WHEN MATCHED semantics (re-crawl): a newer warc_ts replaces
    the stored row, an older one loses, an unseen url inserts, and the
    url set stays unique."""
    from pdf_extractor_spark.sources.pages import upsert_extracted

    frame = build_pages_frame().iloc[:4]
    out = str(tmp_path / "extracted")
    run_extraction_job(
        spark, pages_from_pandas(spark, frame), out, num_partitions=2
    )
    base = spark.read.parquet(out)
    n0 = base.count()
    urls = sorted(r["url"] for r in base.select("url").collect())
    newer_url, older_url = urls[0], urls[1]

    newer = base.where(F.col("url") == newer_url).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    ).withColumn("extracted_text", F.lit("RECRAWLED"))
    older = base.where(F.col("url") == older_url).withColumn(
        "warc_ts", F.col("warc_ts") - F.expr("INTERVAL 1 DAY")
    ).withColumn("extracted_text", F.lit("STALE"))
    fresh = base.where(F.col("url") == urls[2]).withColumn(
        "url", F.lit("https://fixture.test/brand-new")
    )
    upsert_extracted(
        spark, newer.unionByName(older).unionByName(fresh), out
    )

    after = spark.read.parquet(out)
    assert after.count() == n0 + 1
    assert after.select("url").distinct().count() == n0 + 1
    got = {
        r["url"]: r["extracted_text"]
        for r in after.where(
            F.col("url").isin(newer_url, older_url)
        ).collect()
    }
    assert got[newer_url] == "RECRAWLED"   # newer re-crawl wins
    assert got[older_url] != "STALE"       # stored row beats older crawl
    assert after.where(F.col("url") == "https://fixture.test/brand-new") \
        .count() == 1                      # NOT MATCHED insert


def test_metrics_invariants(spark, pages_df):
    extracted = extract_pages(pages_df, num_partitions=4).cache()
    try:
        m = metrics_from_extracted(extracted).collect()
        n_input = pages_df.count()
        assert sum(r["n_docs"] for r in m) == n_input
        assert all(r["n_docs"] == r["n_ok"] + r["n_failed"] for r in m)
        assert all(r["wall_ms"] >= 0 for r in m)
        part_ids = [r["part_id"] for r in m]
        assert len(part_ids) == len(set(part_ids))  # one row per partition
    finally:
        extracted.unpersist()


def test_metrics_rollup_keeps_batches_of_every_call(spark, tmp_path):
    """Every extraction call restarts part_id and batch_id at 0, so a
    table fed by two calls holds two batches under each (part_id,
    batch_id): the rollup must count both calls' batch_ms, keyed by
    the batch's extracted_at as well."""
    from pdf_extractor_spark.sources.icetable import (
        extract_to_table,
        read_table,
    )

    frame = build_pages_frame()
    half = len(frame) // 2
    table = str(tmp_path / "table")
    for part in (frame.iloc[:half], frame.iloc[half:]):
        extract_to_table(spark, pages_from_pandas(spark, part), table)
    stored = read_table(spark, table)
    batches = stored.select(
        "part_id", "batch_id", "extracted_at", "batch_ms"
    ).distinct().collect()
    # the two calls do reuse (part_id, batch_id) pairs
    assert len({(r["part_id"], r["batch_id"]) for r in batches}) \
        < len(batches)
    m = metrics_from_extracted(stored).collect()
    assert sum(r["wall_ms"] for r in m) == sum(r["batch_ms"] for r in batches)
    assert sum(r["n_docs"] for r in m) == len(frame)


def _stage_task_counts(spark, group: str) -> list[int]:
    """Task count of every stage the jobs of ``group`` ran."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store caught up
    tracker = sc.statusTracker()
    infos = [
        tracker.getStageInfo(stage)
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    ]
    return [i.numTasks for i in infos if i is not None]


@pytest.mark.parametrize("num_partitions", [None, 3])
def test_extract_to_table_runs_one_python_wave(
    spark, tmp_path, num_partitions
):
    """The default fan-out is one extraction task per task slot
    (defaultParallelism), so the MapInPandas stage runs one wave; an
    explicit count is honoured. The pages table is one parquet file,
    so every other stage of the call (scan, emptiness probe) has a
    single task and the MapInPandas stage is the only wider one."""
    from pdf_extractor_spark.sources.icetable import extract_to_table

    sc = spark.sparkContext
    write_pages(
        pages_from_pandas(spark, build_pages_frame()).coalesce(1),
        str(tmp_path / "pages"),
    )
    pages = read_pages(spark, str(tmp_path / "pages"))
    group = f"one-wave-{num_partitions}"
    explicit = {} if num_partitions is None else {
        "num_partitions": num_partitions
    }
    sc.setJobGroup(group, "extract_to_table task count")
    try:
        extract_to_table(spark, pages, str(tmp_path / "table"), **explicit)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    want = num_partitions or sc.defaultParallelism
    assert want > 1
    wide = [n for n in _stage_task_counts(spark, group) if n > 1]
    assert wide == [want]


def test_oversized_docs_routed_separately(spark):
    big_payload = b"<html><body>" + b"<p>" + b"x" * 100 + b"</p>" * 1 + \
        b"y" * (DEFAULT_CONFIG.oversize_bytes + 1024) + b"</body></html>"
    frame = pd.DataFrame(
        [
            {"url": "https://fixture.test/html/huge",
             "warc_ts": dt.datetime(2025, 1, 1), "html": big_payload,
             "text": "", "lang": "en"},
            {"url": "https://fixture.test/html/tiny",
             "warc_ts": dt.datetime(2025, 1, 1),
             "html": b"<p>small enough document body text here</p>",
             "text": "", "lang": "en"},
        ]
    )
    df = pages_from_pandas(spark, frame)
    normal, oversized = partition_pages(df, 4)
    assert normal.count() == 1
    assert oversized.count() == 1
    assert oversized.select("url").first()["url"].endswith("huge")


def test_routing_key_balances_partitions(spark):
    """ADVICE-r1: the routing key must keep full hash cardinality — the
    pre-modded ~2P-value key left ~1/3 of partitions empty and stacked
    bucket-groups. With 512 urls over 16 partitions, every partition
    must be non-empty and no partition grossly overloaded."""
    from pdf_extractor_spark.plans.pipeline import _routing_key

    n_parts = 16
    frame = pd.DataFrame(
        [
            {"url": f"https://fixture.test/doc/{i}",
             "warc_ts": dt.datetime(2025, 1, 1),
             "html": b"<p>body</p>", "text": "", "lang": "en"}
            for i in range(512)
        ]
    )
    df = pages_from_pandas(spark, frame)
    routed = df.repartition(n_parts, _routing_key(DEFAULT_CONFIG))
    sizes = routed.rdd.glom().map(len).collect()
    assert len(sizes) == n_parts
    assert min(sizes) > 0, sizes                  # no empty partitions
    assert max(sizes) < 3 * (512 / n_parts), sizes  # no pile-ups


def test_output_schema_stable(spark, pages_df):
    extracted = extract_pages(pages_df.limit(1), num_partitions=1)
    names = [f.name for f in extracted.schema.fields]
    assert names[:4] == ["url", "warc_ts", "branch", "extracted_text"]
    for lineage_col in ("part_id", "batch_id", "attempt", "host"):
        assert lineage_col in names


def test_lang_agg_native_plan_prunes_columns(spark, pages_df):
    """The DataFrame-level rollup around the kernel stays native: check
    aggregation over extraction output works and input scan prunes to
    the selected columns."""
    extracted = extract_pages(pages_df, num_partitions=4)
    agg = (
        extracted.groupBy("branch")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("chars_out").alias("chars"),
            F.avg(F.col("quality.score")).alias("avg_score"),
        )
        .orderBy("branch")
        .collect()
    )
    assert [r["branch"] for r in agg] == ["html", "pdf"]
    assert all(r["n_docs"] > 0 for r in agg)


def test_binary_file_source_roundtrip(spark, tmp_path):
    """S1 loose-file mapping: fixture payloads written as real files in
    a nested tree, read via the binaryFile source, extracted — outputs
    must equal the goldens byte-for-byte."""
    from pdf_extractor_spark.fixtures.corpus import fixture_cases
    from pdf_extractor_spark.sources.pages import read_pages_binary

    indir = tmp_path / "in"
    cases = fixture_cases()[:6]
    for i, (cid, branch, _lang, payload) in enumerate(cases):
        sub = indir / f"sub{i % 2}"
        sub.mkdir(parents=True, exist_ok=True)
        ext = "pdf" if branch == "pdf" else "html"
        (sub / f"{cid}.{ext}").write_bytes(payload)

    pages = read_pages_binary(spark, str(indir))
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    rows = extract_pages(pages, num_partitions=2).collect()
    assert len(rows) == len(cases)
    for r in rows:
        cid = r["url"].rsplit("/", 1)[-1].rsplit(".", 1)[0]
        golden = (GOLDEN_DIR / f"{cid}.txt").read_bytes()
        assert r["extracted_text"].encode("utf-8") == golden, cid


def test_oversized_doc_extracts_end_to_end(spark):
    """Skew fixture (SURVEY §5.2): one ~100x-sized HTML doc must route
    to the oversized key space AND extract correctly alongside normal
    docs in the same job."""
    import datetime as dt

    big_body = "<p>" + ("big payload sentence. " * 40 + "</p><p>") * 11000 \
        + "end.</p>"
    frame = build_pages_frame()
    big = pd.DataFrame([{
        "url": "http://fixture.example/huge-doc",
        "warc_ts": dt.datetime(2024, 1, 1),
        "html": ("<html><body>" + big_body + "</body></html>").encode(),
        "text": None,
        "lang": "en",
    }])
    pages = pages_from_pandas(spark, pd.concat([frame, big],
                                               ignore_index=True))
    _normal, oversized = partition_pages(pages, 4)
    assert oversized.count() == 1  # actually crosses oversize_bytes
    rows = extract_pages(pages, num_partitions=4).collect()
    assert len(rows) == len(frame) + 1
    huge = [r for r in rows if r["url"].endswith("huge-doc")][0]
    assert huge["ok"] and huge["chars_out"] > 100_000
    assert "big payload sentence." in huge["extracted_text"]


def test_eta_from_metrics(spark, pages_df):
    """F12: ETA scales linearly with remaining docs and formats with
    the reference thresholds."""
    from pdf_extractor_spark.plans.pipeline import (
        eta_from_metrics,
        format_eta,
    )

    # real metrics: positive ETA (wall_ms is timing-dependent, so pin
    # the linearity check to a fixed metrics frame below)
    real = metrics_from_extracted(extract_pages(pages_df,
                                                num_partitions=4))
    assert eta_from_metrics(real, 100) > 0

    fixed = spark.createDataFrame(
        pd.DataFrame(
            [
                {"part_id": 0, "n_docs": 50, "wall_ms": 1000},
                {"part_id": 1, "n_docs": 50, "wall_ms": 3000},
            ]
        )
    )
    # 100 docs over 2 partitions averaging 2 s -> 50 docs/sec
    eta1 = eta_from_metrics(fixed, 100)
    eta2 = eta_from_metrics(fixed, 200)
    assert eta1 == pytest.approx(2.0)
    assert eta2 == pytest.approx(2 * eta1)
    assert eta_from_metrics(fixed, 0) == 0.0
    assert format_eta(0) == ""
    assert format_eta(30) == "(ETA: 30s)"
    assert format_eta(120) == "(ETA: 2.0m)"
    assert format_eta(7200) == "(ETA: 2.0h)"


def test_upsert_bootstrap_dedups_first_batch(spark, tmp_path):
    """First write (no existing store) must STILL resolve per-url
    winners: a batch carrying two crawls of one url keeps exactly the
    newest (code-review r2 finding)."""
    from pdf_extractor_spark.sources.pages import upsert_extracted

    frame = build_pages_frame().iloc[:2]
    out = str(tmp_path / "extracted")
    run_extraction_job(
        spark, pages_from_pandas(spark, frame), out, num_partitions=2
    )
    seed = spark.read.parquet(out)
    url0 = seed.select("url").orderBy("url").first()["url"]
    one = seed.where(F.col("url") == url0)
    newer = one.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    ).withColumn("extracted_text", F.lit("NEWEST"))
    batch = one.unionByName(newer)

    fresh_out = str(tmp_path / "fresh")
    upsert_extracted(spark, batch, fresh_out)
    got = spark.read.parquet(fresh_out)
    assert got.count() == 1
    assert got.first()["extracted_text"] == "NEWEST"
