"""Per-layer metrics of one traced job, from spans recorded in the Spark
driver process plus the Spark event log.

The spans come from wrappers on the public functions of
``sources/icetable.py`` and ``plans/pipeline.py`` plus the
benchmark's own ``job`` and ``rollup`` spans; all are epoch seconds,
the clock the event log uses (in ms). A job's wall time splits into

    pipeline.job_exec_ms   Spark executions that run the extraction
                           stage (scan, routing shuffle, MapInPandas,
                           parquet write)
    icetable.exec_ms       other Spark executions inside
                           ``extract_to_table`` (the resume/emptiness
                           probe, merge planning and survivor rewrite)
    icetable.commit_ms     Spark driver time in create_table/append/
                           merge_upsert after their last execution ends
    pipeline.rollup_ms     read_table + metrics_from_extracted + collect
    job.residue_ms         everything else: planning, listing, Python
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

import pandas as pd

import spans as sp
from eventlog import EventLog, Execution

COMMIT_CALLS = ("icetable.create_table", "icetable.append",
                "icetable.merge_upsert")
TOL_MS = 1.0  # event log timestamps are whole milliseconds


@dataclass
class Call:
    """One ``extract_to_table`` call and what the benchmark knows of
    it: its role and its input rows."""

    role: str  # "create" | "resume" | "merge"
    rows_in: int


def _inside(exe: Execution, span: sp.Span) -> bool:
    return span.start * 1000 - TOL_MS <= exe.start <= span.end * 1000 + TOL_MS


def _children(spans: list[sp.Span], idx: int, names) -> list[int]:
    out = []
    for i, s in enumerate(spans):
        if s.name in names and _descends(spans, i, idx):
            out.append(i)
    return out


def _descends(spans: list[sp.Span], i: int, ancestor: int) -> bool:
    p = spans[i].parent
    while p is not None:
        if p == ancestor:
            return True
        p = spans[p].parent
    return False


def _ratio_max_mean(values: list[float], n: int) -> float:
    mean = sum(values) / n if n else 0.0
    return max(values) / mean if mean else 0.0


def job_layers(log: EventLog, spans: list[sp.Span], job_idx: int,
               calls: list[Call], table: str) -> dict:
    from pdf_extractor_spark.sources import icetable

    job = spans[job_idx]
    view = log.window(job.start * 1000 - TOL_MS, job.end * 1000 + TOL_MS)
    etts = _children(spans, job_idx, {"icetable.extract_to_table"})
    if len(etts) != len(calls):
        raise RuntimeError(f"{len(etts)} extract_to_table spans for "
                           f"{len(calls)} calls")
    commits = _children(spans, job_idx, set(COMMIT_CALLS))
    rollup = _children(spans, job_idx, {"rollup"})[0]

    job_exec = ice_exec = 0.0
    ett_exes = 0
    for e in view.executions:
        if not any(_inside(e, spans[i]) for i in etts):
            continue
        ett_exes += 1
        if view.has_layer(e, "pipeline.python"):
            job_exec += e.wall_ms
        else:
            ice_exec += e.wall_ms
    commit_ms = 0.0
    for i in commits:
        ends = [e.end for e in view.executions if _inside(e, spans[i])]
        span_end = spans[i].end * 1000
        commit_ms += span_end - max(ends) if ends else span_end - spans[i].start * 1000
    wall = (job.end - job.start) * 1000
    rollup_ms = (spans[rollup].end - spans[rollup].start) * 1000

    python_stages = view.stage_tasks_with("pipeline.python", "number of output rows")
    rows_skew = [_ratio_max_mean(rows, st.n_tasks or len(rows))
                 for st, rows in python_stages if rows]
    task_skew = [_ratio_max_mean([t.run_ms for t in st.tasks], len(st.tasks))
                 for st, _rows in python_stages if st.tasks]
    tasks = view.tasks
    run_ms = sum(t.run_ms for t in tasks)

    out = {
        "job.wall_ms": wall,
        "pipeline.job_exec_ms": job_exec,
        "icetable.exec_ms": ice_exec,
        "icetable.commit_ms": commit_ms,
        "pipeline.rollup_ms": rollup_ms,
        "job.residue_ms": wall - job_exec - ice_exec - commit_ms - rollup_ms,
        "icetable.sql_executions_per_call": ett_exes / len(etts),
        "icetable.scan_ms": view.metric("icetable.scan", "scan time"),
        "icetable.scan_bytes": view.metric("icetable.scan", "size of files read"),
        "pages.scan_ms": view.metric("pages.scan", "scan time"),
        "pages.scan_bytes": view.metric("pages.scan", "size of files read"),
        "icetable.task_commit_ms": view.metric("icetable.write", "task commit time"),
        "icetable.files_written": view.metric("icetable.write", "number of written files"),
        "icetable.bytes_written": view.metric("icetable.write", "written output"),
        "pipeline.shuffle_bytes": view.metric("pipeline.shuffle", "shuffle bytes written"),
        "pipeline.shuffle_write_ms": view.metric("pipeline.shuffle", "shuffle write time"),
        "pipeline.shuffle_fetch_wait_ms": view.metric("pipeline.shuffle", "fetch wait time"),
        "pipeline.spill_bytes": float(sum(t.spill_bytes for t in tasks)),
        "pipeline.partition_rows_max_over_mean":
            statistics.mean(rows_skew) if rows_skew else 0.0,
        "pipeline.task_ms_max_over_mean":
            statistics.mean(task_skew) if task_skew else 0.0,
        "pipeline.arrow_bytes_to_python":
            view.metric("pipeline.python", "data sent to Python workers"),
        "pipeline.arrow_bytes_from_python":
            view.metric("pipeline.python", "data returned from Python workers"),
        "pipeline.python_run_ms":
            view.metric("pipeline.python", "time to run Python workers"),
        "pipeline.python_worker_init_ms": python_worker_ms(view),
        "pipeline.rollup_rows_read": float(icetable.count_rows(table)[0]),
        "jvm.gc_ms": float(sum(t.gc_ms for t in tasks)),
        "executor.cpu_over_run":
            sum(t.cpu_ns for t in tasks) / 1e6 / run_ms if run_ms else 0.0,
    }
    out["pipeline.kernel_batch_ms"] = kernel_batch_ms(table, job.start)
    out["pipeline.handoff_ms"] = (out["pipeline.python_run_ms"]
                                  - out["pipeline.kernel_batch_ms"])
    out["calls"] = call_layers(view, spans, etts, commits, calls, table)
    return out


def python_worker_ms(view) -> float:
    return (view.metric("pipeline.python", "time to start Python workers")
            + view.metric("pipeline.python", "time to initialize Python workers"))


def kernel_batch_ms(table: str, since_epoch_s: float) -> float:
    """Sum of the ``batch_ms`` lineage column over the batches this job
    extracted (rows stamped after the job started)."""
    from harness import read_table_files

    df = read_table_files(
        table, ["part_id", "batch_id", "batch_ms", "extracted_at"]
    )
    at = pd.to_datetime(df["extracted_at"])
    if at.dt.tz is None:
        at = at.dt.tz_localize("UTC")
    since = pd.Timestamp(since_epoch_s, unit="s", tz="UTC")
    fresh = df[at >= since]
    batches = fresh.groupby(["part_id", "batch_id", "extracted_at"])["batch_ms"].first()
    return float(batches.sum())


def call_layers(view, spans, etts, commits, calls, table) -> dict:
    """Resume and merge metrics, one list entry per call of the role."""
    from pdf_extractor_spark.sources import icetable

    log = icetable.snapshot_log(table)
    resume = {"ms": [], "in": [], "skipped": []}
    rewritten = []
    for i, call in zip(etts, calls):
        if call.role == "resume":
            inner = [c for c in commits if _descends(spans, c, i)]
            probe = [e for e in view.executions if _inside(e, spans[i])
                     and not any(_inside(e, spans[c]) for c in inner)]
            resume["ms"].append(sum(e.wall_ms for e in probe))
            appended = [b["n_rows"] - a["n_rows"] for a, b in zip(log, log[1:])
                        if b["operation"] == "append"]
            added = appended[0] if inner and appended else 0
            resume["in"].append(call.rows_in)
            resume["skipped"].append(call.rows_in - added)
        elif call.role == "merge":
            merge = next(s for s in log if s["operation"] == "merge")
            after = icetable.read_snapshot(table, merge["snapshot_id"])
            before = icetable.read_snapshot(table, after["parent"])
            old = {e["path"] for e in before["manifest"]}
            new_rows = sum(e["n_rows"] for e in after["manifest"]
                           if e["path"] not in old)
            rewritten.append((new_rows - call.rows_in) / call.rows_in)

    return {
        "icetable.resume_ms": resume["ms"],
        "icetable.resume_rows_in": resume["in"],
        "icetable.resume_rows_skipped": resume["skipped"],
        "icetable.merge_rows_rewritten_per_changed_row": rewritten,
    }
