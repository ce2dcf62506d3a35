"""Tests for the from-scratch snapshot/manifest table format
(sources/icetable.py): stats pruning, time travel, atomic commits,
copy-on-write MERGE."""

from __future__ import annotations

import ast
import os
import uuid

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.sources import icetable as it

STATS = ["doc_id", "host"]


def _df(spark, lo, hi, host="a.com"):
    return spark.createDataFrame(
        [(i, host, f"text {i}") for i in range(lo, hi)],
        "doc_id long, host string, text string",
    ).coalesce(1)


class TestIceTable:
    def test_create_append_read(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        it.append(_df(spark, 100, 150), path, STATS)
        got = it.read_table(spark, path)
        assert got.count() == 150
        assert got.select("doc_id").distinct().count() == 150

    def test_stats_pruning_skips_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        for lo in range(100, 500, 100):
            it.append(_df(spark, lo, lo + 100), path, STATS)
        all_files = it.plan_files(path)
        assert len(all_files) == 5
        # a point lookup must plan exactly one file...
        pruned = it.plan_files(path, ("doc_id", "=", 250))
        assert len(pruned) == 1
        # ...and the pruned read equals the full filtered read
        fast = it.read_table(
            spark, path, ("doc_id", "between", (150, 349))
        )
        # [150, 349] overlaps the 100s, 200s and 300s files
        assert len(it.plan_files(
            path, ("doc_id", "between", (150, 349)))) == 3
        full = it.read_table(spark, path).where(
            "doc_id between 150 and 349"
        )
        assert (
            fast.where("doc_id between 150 and 349").count()
            == full.count()
            == 200
        )

    def test_empty_plan_returns_schema(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 10), path, STATS)
        got = it.read_table(spark, path, ("doc_id", ">", 10_000))
        assert got.count() == 0
        assert got.columns == ["doc_id", "host", "text"]

    def test_time_travel(self, spark, tmp_path):
        path = str(tmp_path / "t")
        s1 = it.create_table(_df(spark, 0, 10), path, STATS)
        s2 = it.append(_df(spark, 10, 30), path, STATS)
        assert it.read_table(spark, path, snap_id=s1).count() == 10
        assert it.read_table(spark, path, snap_id=s2).count() == 30
        log = it.snapshot_log(path)
        assert [s["operation"] for s in log] == ["create", "append"]
        assert [s["n_rows"] for s in log] == [10, 30]

    def test_merge_rewrites_only_overlapping_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        it.append(_df(spark, 100, 200), path, STATS)
        before = {e["path"] for e in it.plan_files(path)}
        # upsert keys 150-159: only the second file overlaps
        upd = spark.createDataFrame(
            [(i, "a.com", f"UPDATED {i}") for i in range(150, 160)],
            "doc_id long, host string, text string",
        ).coalesce(1)
        it.merge_upsert(spark, upd, path, "doc_id", STATS)
        after = {e["path"] for e in it.plan_files(path)}
        # the 0-99 file carried over by reference
        carried = before & after
        assert len(carried) == 1
        got = it.read_table(spark, path)
        assert got.count() == 200  # no dup, no loss
        updated = got.where("doc_id = 155").collect()[0]
        assert updated.text == "UPDATED 155"

    def test_crash_between_snapshot_and_pointer_is_invisible(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        s1 = it.create_table(_df(spark, 0, 10), path, STATS)
        # simulate a crash: snapshot file exists, VERSION not flipped
        import json

        fake = {
            "snapshot_id": s1 + 1,
            "parent": s1,
            "operation": "append",
            "committed_at": 0,
            "manifest": [],
        }
        with open(it._snap_path(path, s1 + 1), "w") as fh:
            json.dump(fake, fh)
        assert it.current_snapshot_id(path) == s1
        assert it.read_table(spark, path).count() == 10

    def test_commit_conflict_detected(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 10), path, STATS)
        manifest = it.read_snapshot(path)["manifest"]
        # a competing writer advances the table
        it.append(_df(spark, 10, 20), path, STATS)
        with pytest.raises(it.CommitConflict):
            it._commit(path, manifest, parent=1, operation="append")

    def test_reader_never_lists_the_directory(self, spark, tmp_path):
        # an orphan parquet dropped into data/ (a failed writer's
        # debris) must be invisible: the manifest defines the table
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 10), path, STATS)
        orphan = _df(spark, 1000, 1010)
        orphan.write.parquet(str(tmp_path / "orphan"))
        import shutil

        src = next(
            f
            for f in os.listdir(str(tmp_path / "orphan"))
            if f.endswith(".parquet")
        )
        shutil.copy(
            str(tmp_path / "orphan" / src),
            os.path.join(it._data_dir(path), "orphan.parquet"),
        )
        assert it.read_table(spark, path).count() == 10


class TestExtractToTable:
    def test_resume_and_upsert_on_the_table(self, spark, tmp_path):
        from pdf_extractor_spark.fixtures.corpus import (
            build_pages_frame,
        )
        from pdf_extractor_spark.sources.icetable import (
            extract_to_table,
        )
        from pdf_extractor_spark.sources.pages import (
            PAGES_SCHEMA_DDL,
        )

        path = str(tmp_path / "extracted")
        frame = build_pages_frame()
        w1, w2 = frame.iloc[:10], frame.iloc[10:20]

        s1 = extract_to_table(
            spark, spark.createDataFrame(w1, PAGES_SCHEMA_DDL), path, 2
        )
        assert s1 == 1
        assert it.read_table(spark, path).count() == 10

        # second wave: only the new urls extract, one new snapshot
        both = spark.createDataFrame(
            __import__("pandas").concat([w1, w2], ignore_index=True),
            PAGES_SCHEMA_DDL,
        )
        s2 = extract_to_table(spark, both, path, 2)
        assert s2 == 2
        got = it.read_table(spark, path)
        assert got.count() == 20
        assert got.select("url").distinct().count() == 20

        # third run with nothing new: NO new snapshot (true no-op)
        assert extract_to_table(spark, both, path, 2) is None
        assert it.current_snapshot_id(path) == 2

        # recrawl upsert: same urls re-extracted, still 20 rows, new
        # snapshot; time travel to s2 still shows the old commit
        s4 = extract_to_table(
            spark,
            spark.createDataFrame(w1, PAGES_SCHEMA_DDL),
            path,
            2,
            upsert=True,
        )
        assert s4 == 3
        assert it.read_table(spark, path).count() == 20
        assert it.read_table(spark, path, snap_id=2).count() == 20
        ops = [s["operation"] for s in it.snapshot_log(path)]
        assert ops == ["create", "append", "merge"]


def _counted(spark, df):
    """``df`` behind an identity mapInPandas that adds each batch's
    row count to an accumulator: the accumulator then counts how many
    rows of ``df`` were evaluated, summed over every evaluation."""
    acc = spark.sparkContext.accumulator(0)

    def count_batches(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    return df.mapInPandas(count_batches, df.schema), acc


class TestOnePassUpsert:
    """merge_upsert evaluates the incoming frame exactly once: the
    written data files, not re-runs of the frame, plan the merge."""

    def test_merge_upsert_evaluates_incoming_once(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        incoming, acc = _counted(spark, _df(spark, 40, 60, host="new.com"))
        it.merge_upsert(spark, incoming, path, "doc_id", STATS)
        assert acc.value == 20
        got = it.read_table(spark, path)
        assert got.count() == 100
        assert got.where("host = 'new.com'").count() == 20

    def test_extract_to_table_upsert_extracts_once(
        self, spark, tmp_path, monkeypatch
    ):
        from pdf_extractor_spark.fixtures.corpus import build_pages_frame
        from pdf_extractor_spark.plans import pipeline
        from pdf_extractor_spark.sources.pages import PAGES_SCHEMA_DDL

        path = str(tmp_path / "extracted")
        w1 = build_pages_frame().iloc[:10]
        pages = spark.createDataFrame(w1, PAGES_SCHEMA_DDL)
        it.extract_to_table(spark, pages, path, 2)
        real = pipeline.extract_pages
        accs = []

        def counted_extract(*a, **k):
            df, acc = _counted(spark, real(*a, **k))
            accs.append(acc)
            return df

        monkeypatch.setattr(pipeline, "extract_pages", counted_extract)
        it.extract_to_table(spark, pages, path, 2, upsert=True)
        assert [a.value for a in accs] == [10]
        assert it.read_table(spark, path).count() == 10


class TestOnePassExtract:
    """extract_to_table evaluates its pages frame exactly once per call:
    it writes first and lets an empty write commit nothing, instead of
    probing the frame for rows before extracting."""

    def test_pages_evaluated_once_on_create_and_resume(self, spark, tmp_path):
        import pandas as pd

        from pdf_extractor_spark.fixtures.corpus import build_pages_frame
        from pdf_extractor_spark.sources.pages import PAGES_SCHEMA_DDL

        path = str(tmp_path / "extracted")
        frame = build_pages_frame()
        w1 = frame.iloc[:10]
        both = pd.concat([w1, frame.iloc[10:20]], ignore_index=True)

        pages, acc = _counted(
            spark, spark.createDataFrame(w1, PAGES_SCHEMA_DDL)
        )
        assert it.extract_to_table(spark, pages, path, 2) == 1
        assert acc.value == 10

        pages, acc = _counted(
            spark, spark.createDataFrame(both, PAGES_SCHEMA_DDL)
        )
        assert it.extract_to_table(spark, pages, path, 2) == 2
        assert acc.value == 20
        assert it.read_table(spark, path).count() == 20


class TestEmptyWrites:
    """A write with no rows commits nothing and returns None."""

    def _empty(self, spark):
        return _df(spark, 0, 0)

    def test_empty_create_leaves_no_directory(self, spark, tmp_path):
        path = str(tmp_path / "t")
        assert it.create_table(self._empty(spark), path, STATS) is None
        assert not os.path.exists(path)

    def test_empty_create_keeps_a_directory_it_did_not_make(
        self, spark, tmp_path
    ):
        path = tmp_path / "t"
        path.mkdir()
        (path / "keep.txt").write_text("x")
        assert it.create_table(self._empty(spark), str(path), STATS) is None
        assert sorted(os.listdir(path)) == ["keep.txt"]
        assert not it.table_exists(str(path))

    def test_empty_append_and_merge_commit_nothing(self, spark, tmp_path):
        path = str(tmp_path / "t")
        s1 = it.create_table(_df(spark, 0, 10), path, STATS)
        n_files = len(os.listdir(it._data_dir(path)))
        assert it.append(self._empty(spark), path, STATS) is None
        assert it.merge_upsert(
            spark, self._empty(spark), path, "doc_id", STATS
        ) is None
        assert it.current_snapshot_id(path) == s1
        assert len(it.snapshot_log(path)) == 1
        assert len(os.listdir(it._data_dir(path))) == n_files
        assert [p for p in os.listdir(path) if p.startswith("_staging")] == []


def _jobs_run_by(spark, fn):
    """The ids of the Spark jobs that ``fn()`` launches."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs launched by one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


class TestSchemaCarryingReads:
    """Table and pages reads take their schema from a footer or a
    declared DDL, so building the frame launches no Spark job."""

    def _table(self, spark, path):
        it.create_table(_df(spark, 0, 50), path, STATS)
        it.append(_df(spark, 50, 80), path, STATS)
        it.merge_upsert(
            spark, _df(spark, 40, 60, host="new.com"), path, "doc_id", STATS
        )
        assert it.compact(spark, path, STATS, min_rows=100) is not None

    def test_read_table_launches_no_job(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        assert _jobs_run_by(spark, lambda: it.read_table(spark, path)) == []
        assert _jobs_run_by(
            spark, lambda: it.read_table(spark, path, ("doc_id", ">", 10**6))
        ) == []

    def test_read_pages_launches_no_job(self, spark, tmp_path):
        from pdf_extractor_spark.fixtures.corpus import build_pages_frame
        from pdf_extractor_spark.sources.pages import (
            PAGES_SCHEMA_DDL,
            read_pages,
            write_pages,
        )

        src = str(tmp_path / "pages")
        write_pages(
            spark.createDataFrame(build_pages_frame(), PAGES_SCHEMA_DDL), src
        )
        assert _jobs_run_by(spark, lambda: read_pages(spark, src)) == []
        assert read_pages(spark, src).count() == len(build_pages_frame())

    def test_read_table_matches_inferred_read(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        files = [e["path"] for e in it.plan_files(path)]
        got = it.read_table(spark, path)
        want = spark.read.parquet(*files)
        assert got.dtypes == want.dtypes
        assert sorted(got.collect()) == sorted(want.collect())
        assert got.count() == 80


class TestMaintenance:
    def test_compact_is_data_neutral(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 50), path, STATS)
        for lo in range(50, 250, 50):
            it.append(_df(spark, lo, lo + 50), path, STATS)
        pre = it.read_table(spark, path)
        pre_ids = sorted(r.doc_id for r in pre.select("doc_id").collect())
        s_before = it.current_snapshot_id(path)
        sid = it.compact(spark, path, STATS, min_rows=100)
        assert sid == s_before + 1
        assert len(it.plan_files(path)) == 1  # 5 small -> 1 file
        post_ids = sorted(
            r.doc_id
            for r in it.read_table(spark, path).select("doc_id").collect()
        )
        assert post_ids == pre_ids
        # the pre-compaction snapshot still reads its own files
        assert it.read_table(spark, path, snap_id=s_before).count() == 250

    def test_compact_noop_when_nothing_small(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 50), path, STATS)
        assert it.compact(spark, path, STATS, min_rows=10) is None

    def test_expire_deletes_unreachable_files_only(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        it.append(_df(spark, 100, 200), path, STATS)
        # merge rewrites the second file: its old version becomes
        # unreachable once the pre-merge snapshots expire
        upd = spark.createDataFrame(
            [(150, "a.com", "X")],
            "doc_id long, host string, text string",
        ).coalesce(1)
        it.merge_upsert(spark, upd, path, "doc_id", STATS)
        n_data = len(os.listdir(it._data_dir(path)))
        stats = it.expire_snapshots(path, keep_last=1)
        assert stats["snapshots_removed"] == 2
        assert stats["files_removed"] >= 1
        assert len(os.listdir(it._data_dir(path))) < n_data
        # current snapshot intact, full row count preserved
        assert it.read_table(spark, path).count() == 200
        # history beyond the horizon is gone and the log terminates
        assert len(it.snapshot_log(path)) == 1


class TestSchemaEnforcement:
    @pytest.mark.parametrize("reshape", [
        lambda df: df.withColumn("lang", F.lit("en")),
        lambda df: df.select("doc_id", "text", "host"),
        lambda df: df.withColumn("doc_id", F.col("doc_id").cast("int")),
    ], ids=["wider", "reordered", "retyped"])
    def test_mismatched_write_raises_and_commits_nothing(
        self, spark, tmp_path, reshape
    ):
        path = str(tmp_path / "t")
        s1 = it.create_table(_df(spark, 0, 10), path, STATS)
        files = sorted(os.listdir(it._data_dir(path)))
        bad = reshape(_df(spark, 10, 20))
        with pytest.raises(it.SchemaMismatch):
            it.append(bad, path, STATS)
        with pytest.raises(it.SchemaMismatch):
            it.merge_upsert(spark, bad, path, "doc_id", STATS)
        assert it.current_snapshot_id(path) == s1
        assert sorted(os.listdir(it._data_dir(path))) == files
        assert it.read_table(spark, path).count() == 10

    def test_nullability_is_not_compared(self, spark, tmp_path):
        # a literal column is non-nullable; the table's is nullable
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 10), path, STATS)
        it.append(
            _df(spark, 10, 20).withColumn("host", F.lit("b.com")),
            path, STATS,
        )
        assert it.read_table(spark, path).count() == 20


class TestMetadataCount:
    def test_count_without_reading_data(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        it.append(_df(spark, 100, 250), path, STATS)
        assert it.count_rows(path) == (250, True)
        # fully-covered range: exact from metadata alone
        n, exact = it.count_rows(path, ("doc_id", "between", (0, 99)))
        assert (n, exact) == (100, True)
        # straddling range: upper bound, flagged inexact
        n, exact = it.count_rows(path, ("doc_id", "between", (50, 149)))
        assert n == 250 and exact is False
        # data files deleted out from under it: metadata still answers
        for e in it.plan_files(path):
            os.remove(e["path"])
        assert it.count_rows(path) == (250, True)


class TestTornCommitChaos:
    """Kill-and-resume chaos on the MERGE path (VERDICT r4 #7): a
    write killed mid-flight leaves partial parquet / an orphan
    snapshot / a torn VERSION tmp on disk; the table must read as if
    the merge never started, and a re-run must produce EXACTLY-ONCE
    output with no duplicate or lost keys."""

    def _expect_after_merge(self):
        # base 0..99 ('a.com'), merge rewrites 40..59 ('new.com')
        return {
            i: ("new.com" if 40 <= i < 60 else "a.com")
            for i in range(100)
        }

    def _assert_exactly_once(self, spark, path):
        got = {
            r["doc_id"]: r["host"]
            for r in it.read_table(spark, path).collect()
        }
        rows = it.read_table(spark, path).count()
        assert rows == len(got) == 100  # count == distinct: no dups
        assert got == self._expect_after_merge()

    def test_kill_before_commit_then_rerun(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        v1 = it.current_snapshot_id(path)
        incoming = _df(spark, 40, 60, host="new.com")

        # kill AFTER the data files land but BEFORE the snapshot
        # write — the orphan parquet stays on disk forever
        real_commit = it._commit

        def killed(*a, **k):
            raise RuntimeError("simulated kill mid-merge")

        monkeypatch.setattr(it, "_commit", killed)
        with pytest.raises(RuntimeError, match="simulated kill"):
            it.merge_upsert(spark, incoming, path, "doc_id", STATS)
        monkeypatch.setattr(it, "_commit", real_commit)

        n_data = len(os.listdir(it._data_dir(path)))
        assert n_data > len(it.plan_files(path))  # orphans exist
        # the torn merge is invisible: still snapshot v1, old rows
        assert it.current_snapshot_id(path) == v1
        assert it.read_table(spark, path).where(
            "host = 'new.com'"
        ).count() == 0

        # resume: re-run the SAME merge; exactly-once output
        it.merge_upsert(spark, incoming, path, "doc_id", STATS)
        self._assert_exactly_once(spark, path)
        # orphan data files are still not referenced by any manifest
        referenced = {
            e["path"] for e in it.read_snapshot(path)["manifest"]
        }
        on_disk = {
            os.path.join(it._data_dir(path), n)
            for n in os.listdir(it._data_dir(path))
        }
        assert referenced < on_disk  # strict subset: orphans remain

    def test_partial_parquet_and_torn_version_tmp(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        v1 = it.current_snapshot_id(path)

        # half-written parquet (kill mid-os.write, before rename
        # into the manifest): valid magic, truncated body
        some = it.plan_files(path)[0]["path"]
        with open(some, "rb") as fh:
            whole = fh.read()
        torn = os.path.join(
            it._data_dir(path), "deadbeef00000000.parquet"
        )
        with open(torn, "wb") as fh:
            fh.write(whole[: len(whole) // 2])
        # torn snapshot pointer: a stray VERSION tmp never renamed
        with open(it._version_file(path) + ".tmp-dead", "w") as fh:
            fh.write("999")
        # orphan snapshot json for an id that never committed
        orphan_snap = {"snapshot_id": v1 + 1, "parent": v1,
                       "operation": "merge", "manifest": []}
        import json as _json

        with open(it._snap_path(path, v1 + 1), "w") as fh:
            _json.dump(orphan_snap, fh)

        # reads never touch any of the debris
        assert it.current_snapshot_id(path) == v1
        assert it.read_table(spark, path).count() == 100

        # the re-run merge commits OVER the orphan snapshot id and
        # flips the pointer atomically
        incoming = _df(spark, 40, 60, host="new.com")
        v2 = it.merge_upsert(spark, incoming, path, "doc_id", STATS)
        assert v2 == v1 + 1
        assert it.current_snapshot_id(path) == v2
        self._assert_exactly_once(spark, path)
        # the torn parquet is still unreferenced
        referenced = {
            e["path"] for e in it.read_snapshot(path)["manifest"]
        }
        assert torn not in referenced

    def test_double_resume_is_idempotent(self, spark, tmp_path):
        # resume logic re-applied on an ALREADY merged table must
        # not duplicate rows (same-key upsert is idempotent)
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        incoming = _df(spark, 40, 60, host="new.com")
        it.merge_upsert(spark, incoming, path, "doc_id", STATS)
        it.merge_upsert(spark, incoming, path, "doc_id", STATS)
        self._assert_exactly_once(spark, path)

    def test_incoming_without_key_stats_rewrites_every_file(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 25), path, STATS)
        for lo in (25, 50, 75):
            it.append(_df(spark, lo, lo + 25), path, STATS)
        before = {e["path"] for e in it.plan_files(path)}
        # files written from here on carry no footer stats: the merge
        # cannot know the incoming key range, so nothing may be pruned
        monkeypatch.setattr(it, "_file_stats", lambda fpath, cols: {})
        it.merge_upsert(
            spark, _df(spark, 40, 60, host="new.com"), path, "doc_id", STATS
        )
        after = {e["path"] for e in it.plan_files(path)}
        assert not before & after  # all four files rewritten
        self._assert_exactly_once(spark, path)

    def test_fully_replaced_file_leaves_no_empty_file(
        self, spark, tmp_path
    ):
        import pyarrow.parquet as pq

        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 40), path, STATS)
        it.append(_df(spark, 40, 60), path, STATS)
        it.append(_df(spark, 60, 100), path, STATS)
        # every row of the 40..59 file is replaced: its rewrite is empty
        it.merge_upsert(
            spark, _df(spark, 40, 60, host="new.com"), path, "doc_id", STATS
        )
        self._assert_exactly_once(spark, path)
        manifest = it.read_snapshot(path)["manifest"]
        assert len(manifest) == 3
        assert all(e["n_rows"] > 0 for e in manifest)
        ddir = it._data_dir(path)
        for name in os.listdir(ddir):
            assert pq.ParquetFile(os.path.join(ddir, name)).metadata.num_rows


class TestRemoveOrphanFiles:
    """remove_orphan_files: the cleanup pass that makes torn-commit
    debris bounded instead of permanent, with the mtime grace guard
    protecting in-flight writers."""

    def _plant_debris(self, spark, path):
        # torn merge: data files landed, commit never happened
        import pytest as _pytest

        real = it._commit
        it._commit = lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("kill")
        )
        try:
            with _pytest.raises(RuntimeError):
                it.merge_upsert(
                    spark, _df(spark, 40, 60, host="new.com"),
                    path, "doc_id", STATS,
                )
        finally:
            it._commit = real
        # torn VERSION tmp + orphan snapshot + staging leftovers
        with open(it._version_file(path) + ".tmp-x", "w") as fh:
            fh.write("999")
        import json as _json

        sid = it.current_snapshot_id(path)
        with open(it._snap_path(path, sid + 7), "w") as fh:
            _json.dump({"snapshot_id": sid + 7, "parent": sid,
                        "operation": "merge", "manifest": []}, fh)
        stag = os.path.join(path, "_staging-dead")
        os.makedirs(stag)
        with open(os.path.join(stag, "part-0.parquet"), "wb") as fh:
            fh.write(b"partial")

    def test_grace_guard_protects_fresh_debris(self, spark, tmp_path):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        self._plant_debris(spark, path)
        n_data = len(os.listdir(it._data_dir(path)))
        # default grace: everything is newer than 3 days — untouched
        counts = it.remove_orphan_files(path)
        assert counts == {"data_files_removed": 0,
                          "snapshots_removed": 0, "tmp_removed": 0,
                          "staging_removed": 0}
        assert len(os.listdir(it._data_dir(path))) == n_data

    def test_aged_debris_is_removed_and_table_intact(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 100), path, STATS)
        self._plant_debris(spark, path)
        counts = it.remove_orphan_files(path, grace_sec=0)
        assert counts["data_files_removed"] > 0
        assert counts["snapshots_removed"] == 1
        assert counts["tmp_removed"] == 1
        assert counts["staging_removed"] == 1
        # every live file survived; the table reads identically
        assert it.read_table(spark, path).count() == 100
        live = {e["path"] for e in it.read_snapshot(path)["manifest"]}
        on_disk = {
            os.path.join(it._data_dir(path), n)
            for n in os.listdir(it._data_dir(path))
        }
        assert live == on_disk  # nothing but live files remain
        # and the table still accepts the resumed merge afterwards
        it.merge_upsert(
            spark, _df(spark, 40, 60, host="new.com"),
            path, "doc_id", STATS,
        )
        got = it.read_table(spark, path)
        assert got.count() == 100
        assert got.where("host = 'new.com'").count() == 20

    def test_nested_staging_tree_is_removed(self, spark, tmp_path):
        # a writer killed mid-write leaves the committer's _temporary/
        # subtree under its staging dir
        path = str(tmp_path / "t")
        it.create_table(_df(spark, 0, 10), path, STATS)
        stag = os.path.join(path, "_staging-dead")
        task = os.path.join(stag, "_temporary", "0", "_temporary", "t0")
        os.makedirs(task)
        with open(os.path.join(task, "part-0.parquet"), "wb") as fh:
            fh.write(b"partial")
        counts = it.remove_orphan_files(path, grace_sec=0)
        assert counts["staging_removed"] == 1
        assert not os.path.exists(stag)
        assert it.read_table(spark, path).count() == 10


def test_commit_conflict_retry_succeeds(spark, tmp_path):
    """The optimistic-concurrency story end to end: writer B loses
    the race, sees CommitConflict, re-reads the advanced table and
    retries the same upsert — exactly-once outcome."""
    path = str(tmp_path / "t")
    it.create_table(_df(spark, 0, 100), path, STATS)
    a = _df(spark, 100, 110, host="a-wins.com")  # disjoint keys
    b = _df(spark, 40, 60, host="b-retry.com")
    # writer A commits between B's read and B's commit: simulate by
    # wrapping _commit so B's FIRST attempt sees the table advance
    real_commit = it._commit
    state = {"raced": False}

    def racing_commit(p, manifest, parent, operation):
        if not state["raced"]:
            state["raced"] = True
            real_commit(
                p,
                it.read_snapshot(p)["manifest"]
                + it._write_data_files(a, p, STATS),
                parent,
                "merge",
            )  # A slips in with B's expected parent
        return real_commit(p, manifest, parent, operation)

    it._commit = racing_commit
    try:
        with pytest.raises(it.CommitConflict):
            it.merge_upsert(spark, b, path, "doc_id", STATS)
    finally:
        it._commit = real_commit
    # retry after the conflict: plain re-invocation now succeeds
    it.merge_upsert(spark, b, path, "doc_id", STATS)
    got = it.read_table(spark, path)
    assert got.count() == got.select("doc_id").distinct().count() == 110
    assert got.where("host = 'b-retry.com'").count() == 20
    assert got.where("host = 'a-wins.com'").count() == 10  # A survived


# ------------------------------------------------ schema-carrying reads

# Every parquet read of the table and pages sources names its schema
# (``.schema(...)`` on the reader): without one, Spark launches a
# schema-inference job on every read.


def _receiver_attrs(node) -> set[str]:
    """Attribute names along a call chain's receiver:
    ``spark.read.schema(s)`` gives {"read", "schema"}."""
    names = set()
    while True:
        if isinstance(node, ast.Attribute):
            names.add(node.attr)
            node = node.value
        elif isinstance(node, ast.Call):
            node = node.func
        else:
            return names


@pytest.mark.parametrize("module", ["icetable", "pages", "query_catalog"])
def test_parquet_reads_carry_a_schema(module):
    from pathlib import Path

    import pdf_extractor_spark

    package = "functions" if module == "query_catalog" else "sources"
    path = Path(pdf_extractor_spark.__file__).parent / package
    path = path / f"{module}.py"
    tree = ast.parse(path.read_text(encoding="utf-8"))
    reads, inferring = 0, []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        chain = _receiver_attrs(node.func.value)
        if chain & {"read", "readStream"}:
            reads += 1
            if "schema" not in chain:
                inferring.append(node.lineno)
    assert reads, f"{module}: no parquet read found"
    assert inferring == [], f"{module}: reads without a schema at {inferring}"


def test_catalog_table_reads_launch_no_job(spark):
    """``query_catalog._t`` reads each sf0.001 test table under the
    schema Spark infers for it, but builds the frame without running
    the inference job."""
    from pdf_extractor_spark.functions.query_catalog import _t

    from .test_plans import SF

    sc = spark.sparkContext
    names = sorted(f[: -len(".parquet")] for f in os.listdir(SF))
    assert len(names) == 10
    sc.setJobGroup("catalog-reads", "query_catalog._t")
    try:
        schemas = {n: _t(spark, SF, n).schema for n in names}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("catalog-reads")
    for n in names:
        assert schemas[n] == spark.read.parquet(f"{SF}/{n}.parquet").schema
