"""Session lifecycle, the production job, memory sampling and checks.

Everything the benchmark writes lives under ``.bench_work/`` in the
checkout: the pages tables, the snapshot tables, Spark's local and
temporary directories and the event log.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class WorkDir:
    """``.bench_work/run-<pid>`` in the checkout, removed on close."""

    def __init__(self):
        self.path = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "pages", "tables", "events"):
            os.makedirs(os.path.join(self.path, sub))
        tmp = self.sub("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.sub("warehouse")
        import tempfile

        tempfile.tempdir = tmp

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run's directory is still there


# ----------------------------------------------------------- sessions

def start_session(work: WorkDir, cores: int, eventlog: bool = False):
    """``build_session`` with the benchmark's directories; returns the
    session and the seconds ``build_session`` took."""
    from pdf_extractor_spark.plans.session import build_session

    # The heap is the engine's own setting (``spark.driver.memory``), so
    # what the job holds on the JVM heap shows in peak_rss_mb.
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work.sub("local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.sub('tmp')}",
    }
    if eventlog:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + work.sub("events"),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = build_session(app="perfbench", cores=cores, extra=extra)
    build_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, build_s


def stop_session(spark, stop_jvm: bool) -> None:
    """Stop the context; with ``stop_jvm`` also end the JVM and wait
    for it, so that the next session starts a fresh one."""
    from pyspark import SparkContext

    spark.stop()
    if not stop_jvm or SparkContext._gateway is None:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------- production job

def production_job(spark, inputs: list[tuple[str, bool]], table: str,
                   rec=None) -> list:
    """One job: ``extract_to_table`` for each (pages dir, upsert) in
    turn, then ``metrics_from_extracted`` over the table written out.
    Module attributes are looked up at call time so that a recorder's
    wrappers see the calls."""
    from pdf_extractor_spark.plans import pipeline
    from pdf_extractor_spark.sources import icetable, pages

    for pages_dir, upsert in inputs:
        icetable.extract_to_table(
            spark, pages.read_pages(spark, pages_dir), table, upsert=upsert
        )
    idx = rec.open("rollup") if rec else None
    rows = pipeline.metrics_from_extracted(
        icetable.read_table(spark, table)
    ).collect()
    if rec:
        rec.close(idx)
    return rows


# ------------------------------------------------------ peak memory

MEMORY_PARTS = ("driver", "jvm", "python_workers")


def tree_pss_bytes(root_pid: int) -> dict:
    """Proportional set size of ``root_pid`` and all its descendants,
    from /proc, split by depth: the driver (``root_pid``), its children
    (the JVM) and everything below them (the Python workers the JVM
    spawns). PSS splits pages shared after a fork between the
    processes sharing them, so forked Python workers are not counted
    once per worker as their RSS would be."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total = dict.fromkeys(MEMORY_PARTS, 0)
    todo = [(root_pid, 0)]
    while todo:
        pid, depth = todo.pop()
        todo.extend((c, depth + 1) for c in children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total[MEMORY_PARTS[min(depth, 2)]] += (
                            int(line.split()[1]) * 1024)
                        break
        except OSError:
            continue
    return total


def heap_used_probe(spark):
    """A callable returning the bytes in use on the JVM heap (live
    objects and garbage not yet collected), from its MemoryMXBean."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return lambda: bean.getHeapMemoryUsage().getUsed()


class MemorySampler:
    """Samples the process tree's memory every ``interval`` seconds on
    a background thread while in use as a context manager. ``peak`` is
    the peak of the sum; ``peaks`` the peak of each part on its own,
    and of ``heap_used()`` when that is given."""

    def __init__(self, interval: float = 0.25, heap_used=None):
        self.interval = interval
        self.heap_used = heap_used
        self.peak = 0
        self.peaks = dict.fromkeys(MEMORY_PARTS, 0)
        if heap_used:
            self.peaks["jvm_heap_used"] = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            parts = tree_pss_bytes(pid)
            self.peak = max(self.peak, sum(parts.values()))
            if self.heap_used:
                parts["jvm_heap_used"] = self.heap_used()
            for k, v in parts.items():
                self.peaks[k] = max(self.peaks[k], v)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------ checks

@dataclass
class Expect:
    """What a job's table must hold once it has committed."""

    texts: dict  # url -> expected extracted_text
    warc_ts: dict = field(default_factory=dict)  # url -> expected warc_ts
    # recrawl_resume: rows the resume append must add, and the stored
    # rows' extracted_at, which must not change
    appended_rows: int | None = None
    stored_extracted_at: dict = field(default_factory=dict)


def read_table_files(table: str, columns: list[str]) -> pd.DataFrame:
    from pdf_extractor_spark.sources import icetable

    files = [e["path"] for e in icetable.plan_files(table)]
    # files written by different calls may differ in nullability
    return pd.concat(
        [pq.read_table(f, columns=columns).to_pandas() for f in files],
        ignore_index=True,
    )


def _utc(ts) -> pd.Timestamp:
    ts = pd.Timestamp(ts)
    return ts.tz_localize("UTC") if ts.tzinfo is None else ts.tz_convert("UTC")


def check_table(table: str, expect: Expect) -> dict:
    """Compare the committed table with the oracles. Returns counts;
    ``failed`` sums every document that is wrong or missing."""
    from pdf_extractor_spark.sources import icetable

    df = read_table_files(
        table, ["url", "warc_ts", "extracted_text", "ok", "extracted_at"]
    )
    got = dict(zip(df["url"], df["extracted_text"]))
    missing = sum(1 for u in expect.texts if u not in got)
    unexpected = sum(1 for u in got if u not in expect.texts)
    mismatch = sum(
        1 for u, t in expect.texts.items() if u in got and got[u] != t
    )
    not_ok = int((~df["ok"].astype(bool)).sum())
    duplicates = len(df) - df["url"].nunique()
    out = {
        "rows": len(df),
        "distinct_urls": int(df["url"].nunique()),
        "missing": missing,
        "unexpected": unexpected,
        "text_mismatch": mismatch,
        "not_ok": not_ok,
        "duplicates": duplicates,
    }
    failed = missing + unexpected + mismatch + not_ok + duplicates
    if expect.warc_ts:
        ts = dict(zip(df["url"], df["warc_ts"]))
        stale = sum(1 for u, t in expect.warc_ts.items()
                    if u in ts and _utc(ts[u]) != _utc(t))
        out["stale_warc_ts"] = stale
        failed += stale
    if expect.appended_rows is not None:
        log = icetable.snapshot_log(table)
        appends = [b["n_rows"] - a["n_rows"]
                   for a, b in zip(log, log[1:]) if b["operation"] == "append"]
        out["appended_rows"] = appends
        failed += sum(abs(n - expect.appended_rows) for n in appends)
        failed += abs(len(appends) - 1) * expect.appended_rows
        at = dict(zip(df["url"], df["extracted_at"]))
        reextracted = sum(
            1 for u, t in expect.stored_extracted_at.items()
            if _utc(at.get(u)) != _utc(t)
        )
        out["stored_reextracted"] = reextracted
        failed += reextracted
    out["failed"] = failed
    return out
