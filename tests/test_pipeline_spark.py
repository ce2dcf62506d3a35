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
    _routing_key,
    extract_pages,
    metrics_from_extracted,
)
from pdf_extractor_spark.sources.icetable import (
    current_snapshot_id,
    read_table,
    snapshot_log,
)
from pdf_extractor_spark.sources.pages import (
    PAGES_SCHEMA_DDL,
    read_pages,
    run_extraction_job,
    write_pages,
)

GOLDEN_DIR = pathlib.Path(__file__).parent / "golden"


def pages_from_pandas(spark, frame: pd.DataFrame):
    return spark.createDataFrame(frame, PAGES_SCHEMA_DDL)


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
    n1 = read_table(spark, out).count()
    snap = current_snapshot_id(out)
    run_extraction_job(spark, pages, out, num_partitions=4)
    assert current_snapshot_id(out) == snap  # nothing new, no commit
    e = read_table(spark, out)
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
    n_half = read_table(spark, out).count()
    assert n_half == len(half)

    full = pages_from_pandas(spark, frame)
    run_extraction_job(spark, full, out, num_partitions=2)
    created, appended = snapshot_log(out)
    assert appended["operation"] == "append"
    assert appended["n_rows"] - created["n_rows"] \
        == len(frame) - len(half)
    e = read_table(spark, out)
    assert e.count() == len(frame)
    assert e.select("url").distinct().count() == len(frame)


def test_job_with_nothing_to_extract_writes_nothing(spark, tmp_path):
    """No input and no table yet: nothing is committed, so there is no
    table to roll metrics up from, and the job neither writes metrics
    nor raises."""
    out, metrics = str(tmp_path / "extracted"), str(tmp_path / "metrics")
    empty = pages_from_pandas(spark, build_pages_frame().iloc[:0])
    run_extraction_job(spark, empty, out, metrics)
    assert not pathlib.Path(out).exists()
    assert not pathlib.Path(metrics).exists()


def _recrawl(row: pd.DataFrame, days: int, n: int) -> pd.DataFrame:
    """A re-crawl of ``row``'s url, ``days`` after it, whose page
    extracts to text naming crawl ``n``."""
    out = row.copy()
    out["warc_ts"] = out["warc_ts"] + dt.timedelta(days=days)
    out["html"] = [
        f"<html><body><p>recrawled body text, crawl {n}, entirely new"
        " content here</p></body></html>".encode()
    ]
    return out


def _drain_upsert(spark, tmp_path, wave: pd.DataFrame) -> str:
    """Land ``wave`` as new pages files and drain them through
    ``stream_extract_upsert`` (one micro-batch); returns the table."""
    from pdf_extractor_spark.streaming.incremental import (
        stream_extract_upsert,
    )

    pages, out, ckpt = (
        str(tmp_path / name) for name in ("pages", "table", "ckpt")
    )
    pages_from_pandas(spark, wave).write.mode("append").parquet(pages)
    stream_extract_upsert(
        spark, pages, out, ckpt, num_partitions=2
    ).awaitTermination()
    return out


def _texts(spark, table: str) -> dict[str, str]:
    stored = read_table(spark, table)
    assert stored.count() == stored.select("url").distinct().count()
    return {
        r["url"]: r["extracted_text"]
        for r in stored.select("url", "extracted_text").collect()
    }


def test_upsert_replaces_only_newer_recrawls(spark, tmp_path):
    """MERGE WHEN MATCHED semantics (re-crawl) through the upsert
    stream: of two newer crawls of one url in a later micro-batch the
    newest replaces the stored row, an older crawl loses, an unseen
    url inserts, and the url set stays unique."""
    frame = build_pages_frame().iloc[:4].reset_index(drop=True)
    table = _drain_upsert(spark, tmp_path, frame)
    before = _texts(spark, table)
    assert len(before) == len(frame)
    newer_url, older_url = sorted(frame["url"])[:2]
    newer = frame[frame["url"] == newer_url]
    fresh = _recrawl(frame.iloc[[2]], 0, 3)
    fresh["url"] = "https://fixture.test/brand-new"

    table = _drain_upsert(spark, tmp_path, pd.concat([
        _recrawl(newer, 2, 2),
        _recrawl(frame[frame["url"] == older_url], -1, 0),
        _recrawl(newer, 1, 1),
        fresh,
    ]))

    after = _texts(spark, table)
    assert len(after) == len(frame) + 1
    assert "crawl 2," in after[newer_url]    # newest re-crawl wins
    assert after[older_url] == before[older_url]  # stored beats older
    assert "crawl 3," in after["https://fixture.test/brand-new"]
    assert snapshot_log(table)[-1]["operation"] == "merge"


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
    from pdf_extractor_spark.sources.icetable import extract_to_table

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
    """Task count of every stage the jobs of ``group`` ran, each stage
    once. A later job that reads a finished shuffle lists the map
    stage again under a new stage id and skips it; a skipped stage
    completes no task, so it is left out."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store caught up
    tracker = sc.statusTracker()
    infos = [
        tracker.getStageInfo(stage)
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    ]
    return [i.numTasks for i in infos if i is not None
            and i.numCompletedTasks]


@pytest.mark.parametrize("num_partitions", [None, 3])
def test_extract_to_table_runs_one_python_wave(
    spark, tmp_path, num_partitions
):
    """The default fan-out is one extraction task per task slot
    (defaultParallelism), so the MapInPandas stage runs one wave; an
    explicit count is honoured. The pages table is one parquet file,
    so every other stage of the call (the scan) has a single task and
    the MapInPandas stage is the only wider one."""
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


def test_decode_leg_runs_one_python_wave(spark):
    """A multimodal decode leg takes the default fan-out too: its
    Python stages (payload synthesis, then decode) run one task per
    task slot. The input is one partition, so the scan stage has a
    single task and the spread stage is the only wider one."""
    from pdf_extractor_spark.functions.multimodal import decode_image_meta

    sc = spark.sparkContext
    docs = spark.range(24, numPartitions=1).withColumnRenamed(
        "id", "doc_id"
    )
    group = "decode-one-wave"
    sc.setJobGroup(group, "decode_image_meta task count")
    try:
        assert len(decode_image_meta(docs).collect()) == 24
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.defaultParallelism > 1
    wide = [n for n in _stage_task_counts(spark, group) if n > 1]
    assert wide == [sc.defaultParallelism]


def test_reused_worker_keeps_its_zip_directory(spark):
    """Once a Python worker has imported the package, its tasks stop
    re-reading pyspark.zip's central directory (``zipguard``): after
    its first task, every task on one worker sees the same ``_files``
    dict of the pyspark.zip importer. Without the guard every task
    builds a new one."""
    def report(batches):
        import os
        import sys
        import time

        import pdf_extractor_spark  # noqa: F401  (installs the guard)

        zips = [v for k, v in sys.path_importer_cache.items()
                if k.endswith("pyspark.zip")]
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "t": [time.monotonic_ns()],
            "files": [id(zips[0]._files) if zips else 0],
        })

    rows = []
    for _ in range(2):
        rows += spark.range(64, numPartitions=8).mapInPandas(
            report, "pid long, t long, files long"
        ).collect()
    assert all(r["files"] for r in rows), "no pyspark.zip importer"
    by_pid: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: r["t"]):
        by_pid.setdefault(r["pid"], []).append(r["files"])
    later = {pid: ids[1:] for pid, ids in by_pid.items()}
    assert max(len(ids) for ids in later.values()) >= 2
    assert all(len(set(ids)) <= 1 for ids in later.values()), later


def _salted_urls(pages) -> list[str]:
    """Urls the routing key sends to the salted (oversized) key space:
    their key differs from the plain url hash."""
    key = _routing_key(DEFAULT_CONFIG)
    return [
        r["url"]
        for r in pages.where(key != F.xxhash64("url")).collect()
    ]


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
    assert _salted_urls(df) == ["https://fixture.test/html/huge"]


def test_routing_key_balances_partitions(spark):
    """ADVICE-r1: the routing key must keep full hash cardinality — the
    pre-modded ~2P-value key left ~1/3 of partitions empty and stacked
    bucket-groups. With 512 urls over 16 partitions, every partition
    must be non-empty and no partition grossly overloaded."""
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
    # actually crosses oversize_bytes
    assert _salted_urls(pages) == ["http://fixture.example/huge-doc"]
    rows = extract_pages(pages, num_partitions=4).collect()
    assert len(rows) == len(frame) + 1
    huge = [r for r in rows if r["url"].endswith("huge-doc")][0]
    assert huge["ok"] and huge["chars_out"] > 100_000
    assert "big payload sentence." in huge["extracted_text"]


def test_upsert_bootstrap_dedups_first_batch(spark, tmp_path):
    """First write (no table yet) must STILL resolve per-url winners:
    a first micro-batch carrying two crawls of one url keeps exactly
    the newest (code-review r2 finding)."""
    frame = build_pages_frame().iloc[:2].reset_index(drop=True)
    url0 = frame.loc[0, "url"]
    table = _drain_upsert(spark, tmp_path, pd.concat([
        _recrawl(frame.iloc[[0]], 1, 1), frame,
    ]))
    got = _texts(spark, table)
    assert len(got) == len(frame)
    assert "crawl 1," in got[url0]
