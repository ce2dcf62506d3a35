"""Benchmark of the production extraction job, end to end and per layer.

    python3 perfbench/run.py --workload pdf_mixed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One run of one workload, from the root of a checkout:

1. generates the workload's pages tables from ``--seed``, with the
   long PDFs' oracles (their serial ``extract_document`` output), and
   writes them as parquet (untimed; see ``workloads.py``);
2. sets up the session: ``build_session`` on a fresh JVM, with the
   engine's own heap setting, plus the first Arrow stage,
   ``extract_pages`` over a fixed 35-row table, which spawns the
   Python workers; that is ``setup_s``;
3. runs ``WARM_JOBS`` untimed jobs, then the production job back to
   back, one SparkSession at ``local[N]`` with N = min(4, nproc), a
   closed loop in which each job starts after the previous one
   committed, until the jobs have taken ``--seconds`` and at least
   ``MIN_JOBS`` ran; a job is ``extract_to_table`` (two calls on
   ``recrawl_resume``: resume append, then upsert) plus
   ``metrics_from_extracted`` over the table written out;
   ``docs_per_s`` is the rows the timed jobs handled over their summed
   wall time, and ``python_peak_mb`` the peak summed PSS of this
   process and the Python workers while they ran;
4. re-runs the resume call on the last committed table, untimed: it
   must extract nothing and leave the snapshot where it was;
5. checks every committed table against the oracles; a wrong or
   missing document fails the run.

``BENCHMARK.json`` lists ``pdf_mixed`` and ``recrawl_resume``.
``html_crawl`` runs the same way by hand; it is left out of that list
so that a comparison of two commits (22 runs per listed workload)
stays within an hour: on a 4-core box a run takes 42-60 s and a traced
run up to two minutes, so three workloads would need about an hour
for their runs alone.

It prints a detail record (box, provenance, composition, per-job
figures, checks) and, as its last line, the result: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--trace 1`` first runs the payloads the job extracts through
``document.extract_document`` in one thread of this process, once
untraced (``document.serial_docs_per_s``, the per-document
percentiles) and once with the kernel's names wrapped (``kernel.py``).
It then runs the untraced loop for half of ``--seconds`` (with the
memory split into driver, JVM and Python workers, and the JVM heap
in use), one job at ``local[1]`` and the loop again, for half of
``--seconds``, with the Spark event log on and the engine's public
icetable/pipeline functions wrapped; per-layer figures are medians
over jobs (see ``layers.py``).

The serial rate and ``parallel_efficiency`` (jobs' extracted docs/s
over cores times the serial rate) are per-layer figures, not
end-to-end ones: a single thread's speed on a shared 4-core box swings
by up to 2x over minutes, far beyond any bound a regression check
could use, while the 4-core job rate moves much less. The same holds
for the JVM's resident size: under the engine's heap setting it
follows when the collector chose to grow the heap (1.3 to 2.1 GB over
five seeds of ``pdf_mixed``), so it and the total are per-layer
figures (``memory.*``, with the heap in use sampled from the JVM),
while ``python_peak_mb``, the driver and the Python workers, varies
by under 1 %.

``--workload all`` runs every workload in turn and ends with one short
line carrying each workload's ``docs_per_s`` and the median
``setup_s``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN_DIR = os.path.join(ROOT, "tests", "golden")

MIN_JOBS = 3
MIN_TRACED_JOBS = 2
WARM_JOBS = 1
SERIAL_MIN_PASSES = 1
SERIAL_MIN_S = 1.0

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "python_peak_mb": "MB",
}

PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "session.python_worker_start_ms": "ms",
    "job.wall_ms": "ms",
    "job.residue_ms": "ms",
    "pipeline.job_exec_ms": "ms",
    "icetable.exec_ms": "ms",
    "icetable.sql_executions_per_call": "count",
    "icetable.scan_ms": "ms",
    "icetable.scan_bytes": "bytes",
    "pages.scan_ms": "ms",
    "pages.scan_bytes": "bytes",
    "icetable.resume_rows_in": "count",
    "icetable.resume_rows_skipped": "count",
    "icetable.resume_ms": "ms",
    "icetable.commit_ms": "ms",
    "icetable.task_commit_ms": "ms",
    "icetable.files_written": "count",
    "icetable.bytes_written": "bytes",
    "icetable.merge_rows_rewritten_per_changed_row": "ratio",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.shuffle_write_ms": "ms",
    "pipeline.shuffle_fetch_wait_ms": "ms",
    "pipeline.spill_bytes": "bytes",
    "pipeline.partition_rows_max_over_mean": "ratio",
    "pipeline.task_ms_max_over_mean": "ratio",
    "pipeline.arrow_bytes_to_python": "bytes",
    "pipeline.arrow_bytes_from_python": "bytes",
    "pipeline.python_run_ms": "ms",
    "pipeline.python_worker_init_ms": "ms",
    "pipeline.kernel_batch_ms": "ms",
    "pipeline.handoff_ms": "ms",
    "pipeline.rollup_ms": "ms",
    "pipeline.rollup_rows_read": "count",
    "document.serial_docs_per_s": "docs/s",
    "pipeline.parallel_efficiency": "ratio",
    "document.unwrap_ms": "ms",
    "document.doc_ms_p50": "ms",
    "document.doc_ms_p99": "ms",
    "document.parse_pdf_calls_per_pdf": "ratio",
    "pdf_tokenizer.parse_pdf_ms": "ms",
    "layout.column_texts_ms": "ms",
    "spacing.cleanup_text_ms": "ms",
    "tables.ms": "ms",
    "footnotes.ms": "ms",
    "filters.ms": "ms",
    "textboxes.ms": "ms",
    "scripts.ms": "ms",
    "quality.score_quality_ms": "ms",
    "inventory.ms": "ms",
    "html_extract.extract_html_ms": "ms",
    "jvm.gc_ms": "ms",
    "executor.cpu_over_run": "ratio",
    "memory.peak_rss_mb": "MB",
    "memory.driver_peak_mb": "MB",
    "memory.jvm_peak_mb": "MB",
    "memory.jvm_heap_used_peak_mb": "MB",
    "memory.python_workers_peak_mb": "MB",
    "scaling.efficiency_1to4": "ratio",
    "trace.overhead_docs_per_s": "docs/s",
    "trace.kernel_overhead_docs_per_s": "docs/s",
    "check.text_mismatch": "count",
    "check.doc_fail_frac": "ratio",
}
CALL_METRICS = (
    "icetable.resume_ms", "icetable.resume_rows_in",
    "icetable.resume_rows_skipped",
    "icetable.merge_rows_rewritten_per_changed_row",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pdf_mixed", "html_crawl", "recrawl_resume", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------- preparing

@dataclass
class Prepared:
    workload: object
    pages_dirs: dict
    inputs: list  # [(pages dir, upsert)] per job
    calls: list  # layers.Call per extract_to_table call
    rows_handled: int
    extracted: list  # payloads each job extracts (the rest resume skips)
    expect: object
    gen_s: float


def prepare(name: str, seed: int, work, cores: int) -> Prepared:
    import harness
    import workloads
    from layers import Call

    t0 = time.perf_counter()
    wl = workloads.generate(name, seed, GOLDEN_DIR, cores)
    dirs = {"main": work.sub("pages", "main"), "warm": work.sub("pages", "warm")}
    workloads.write_pages(wl.pages, dirs["main"], cores)
    workloads.write_pages(workloads.warmup_pages(GOLDEN_DIR), dirs["warm"], 1)
    if wl.stored:
        dirs["stored"] = work.sub("pages", "stored")
        dirs["recrawl"] = work.sub("pages", "recrawl")
        workloads.write_pages(wl.stored, dirs["stored"], cores)
        workloads.write_pages(wl.recrawl, dirs["recrawl"], cores)
    gen_s = time.perf_counter() - t0

    if wl.stored:
        stored = {p.url for p in wl.stored}
        extracted = [p for p in wl.pages if p.url not in stored] + wl.recrawl
        inputs = [(dirs["main"], False), (dirs["recrawl"], True)]
        calls = [Call("resume", len(wl.pages)), Call("merge", len(wl.recrawl))]
    else:
        extracted = wl.pages
        inputs = [(dirs["main"], False)]
        calls = [Call("create", len(wl.pages))]
    texts = {p.url: p.oracle for p in wl.pages}
    expect = harness.Expect(texts=texts)
    for p in wl.recrawl:
        texts[p.url] = p.oracle
        expect.warc_ts[p.url] = p.warc_ts
    if wl.stored:
        expect.appended_rows = len(wl.pages) - len(wl.stored)
    return Prepared(
        workload=wl, pages_dirs=dirs, inputs=inputs, calls=calls,
        rows_handled=len(wl.pages) + len(wl.recrawl),
        extracted=[p.html for p in extracted], expect=expect,
        gen_s=gen_s,
    )


# ------------------------------------------------------------ running

@dataclass
class Job:
    table: str
    wall_s: float


def warm_up(spark, prep: Prepared, cores: int) -> float:
    """The first Arrow stage of the session: ``extract_pages`` over the
    fixed warm-up table, one task per core, so every core spawns its
    Python worker."""
    from pdf_extractor_spark.plans import pipeline
    from pdf_extractor_spark.sources import pages

    t0 = time.perf_counter()
    pipeline.extract_pages(
        pages.read_pages(spark, prep.pages_dirs["warm"]), num_partitions=cores
    ).count()
    return time.perf_counter() - t0


def build_base(spark, prep: Prepared, work) -> None:
    """recrawl_resume: the stored snapshot table every job restores
    (untimed), and the stored rows' extraction stamps."""
    import harness
    from pdf_extractor_spark.sources import icetable, pages

    base = work.sub("tables", "base")
    if os.path.exists(base):
        return
    icetable.extract_to_table(
        spark, pages.read_pages(spark, prep.pages_dirs["stored"]), base
    )
    df = harness.read_table_files(base, ["url", "extracted_at"])
    recrawled = {p.url for p in prep.workload.recrawl}
    prep.expect.stored_extracted_at = {
        u: t for u, t in zip(df["url"], df["extracted_at"])
        if u not in recrawled
    }


def run_loop(spark, prep: Prepared, work, seconds: float, tag: str,
             rec=None, min_jobs: int = MIN_JOBS) -> list[Job]:
    """Closed loop of production jobs until they have taken
    ``seconds`` (and at least ``min_jobs`` ran)."""
    import harness

    jobs: list[Job] = []
    while sum(j.wall_s for j in jobs) < seconds or len(jobs) < min_jobs:
        table = work.sub("tables", f"{tag}-{len(jobs)}")
        if prep.workload.stored:
            shutil.copytree(work.sub("tables", "base"), table)
        idx = rec.open("job") if rec else None
        t0 = time.perf_counter()
        harness.production_job(spark, prep.inputs, table, rec)
        wall = time.perf_counter() - t0
        if rec:
            rec.close(idx)
        jobs.append(Job(table, wall))
    return jobs


def rerun_noop(spark, prep: Prepared, table: str, rec=None) -> bool:
    """Re-run the resume call on a committed table: it must extract
    nothing and leave the snapshot where it was."""
    import harness
    from pdf_extractor_spark.sources import icetable

    snap = icetable.current_snapshot_id(table)
    idx = rec.open("job") if rec else None
    harness.production_job(spark, [(prep.pages_dirs["main"], False)], table, rec)
    if rec:
        rec.close(idx)
    return icetable.current_snapshot_id(table) == snap


def docs_per_s(prep: Prepared, jobs: list[Job]) -> float:
    """Rows handled (extracted or skipped by resume) per second of the
    jobs' summed wall time."""
    return prep.rows_handled * len(jobs) / sum(j.wall_s for j in jobs)


def check_jobs(prep: Prepared, jobs: list[Job]) -> dict:
    import harness

    per_job = [harness.check_table(j.table, prep.expect) for j in jobs]
    failed = sum(c["failed"] for c in per_job)
    not_ok = sum(c["not_ok"] + c["missing"] for c in per_job)
    return {
        "per_job": per_job,
        "failed": failed,
        "text_mismatch": sum(c["text_mismatch"] for c in per_job),
        "doc_fail_frac": not_ok / (prep.rows_handled * len(jobs)),
    }


def untraced(args, work, cores: int) -> tuple[dict, dict]:
    import harness

    t0 = time.perf_counter()
    prep = prepare(args.workload, args.seed, work, cores)
    phases = {"prepare": time.perf_counter() - t0}
    spark, build_s = harness.start_session(work, cores)
    try:
        warm_s = warm_up(spark, prep, cores)
        t0 = time.perf_counter()
        if prep.workload.stored:
            build_base(spark, prep, work)
        # untimed jobs first: a session's first job runs cold (the
        # JVM's JIT has not settled) and would skew the rate
        warm = run_loop(spark, prep, work, 0.0, "warm", min_jobs=WARM_JOBS)
        phases["warm"] = time.perf_counter() - t0
        with harness.MemorySampler() as mem:
            jobs = run_loop(spark, prep, work, args.seconds, "job")
        t0 = time.perf_counter()
        noop = rerun_noop(spark, prep, jobs[-1].table)
        phases["rerun"] = time.perf_counter() - t0
    finally:
        harness.stop_session(spark, stop_jvm=True)
    t0 = time.perf_counter()
    checks = check_jobs(prep, warm + jobs)
    phases["check"] = time.perf_counter() - t0
    metrics = {
        "docs_per_s": docs_per_s(prep, jobs),
        "setup_s": build_s + warm_s,
        "python_peak_mb": (mem.peaks["driver"]
                           + mem.peaks["python_workers"]) / 2**20,
    }
    detail = {
        "setup_s": {"build": build_s, "warm_up": warm_s},
        "peak_mb": {"total": mem.peak / 2**20,
                    **{k: v / 2**20 for k, v in mem.peaks.items()}},
        "job_wall_s": [j.wall_s for j in jobs],
        "rows_handled_per_job": prep.rows_handled,
        "rows_extracted_per_job": len(prep.extracted),
        "gen_s": prep.gen_s,
        "phases_s": phases,
        "composition": prep.workload.composition(),
        "rerun_noop": noop,
        "checks": checks,
    }
    return _result(metrics, END_TO_END, (len(warm) + len(jobs)) * prep.rows_handled,
                   checks["failed"] + (0 if noop else 1)), detail


def traced(args, work, cores: int) -> tuple[dict, dict]:
    import harness
    import kernel
    import layers
    import spans as sp
    from eventlog import EventLog
    from pdf_extractor_spark.plans import pipeline
    from pdf_extractor_spark.sources import icetable

    prep = prepare(args.workload, args.seed, work, cores)
    serial = kernel.serial_pass(prep.extracted, SERIAL_MIN_PASSES, SERIAL_MIN_S)
    kern, traced_rate = kernel.traced_pass(prep.extracted)

    # untraced reference loop, on a fresh JVM
    spark, build_s = harness.start_session(work, cores)
    try:
        warm_s = warm_up(spark, prep, cores)
        if prep.workload.stored:
            build_base(spark, prep, work)
        warm = run_loop(spark, prep, work, 0.0, "warm", min_jobs=WARM_JOBS)
        with harness.MemorySampler(
                heap_used=harness.heap_used_probe(spark)) as mem:
            jobs_u = run_loop(spark, prep, work, args.seconds / 2, "untraced",
                              min_jobs=MIN_TRACED_JOBS)
    finally:
        harness.stop_session(spark, stop_jvm=False)
    # one job on one core
    spark, _ = harness.start_session(work, 1)
    try:
        warm_up(spark, prep, 1)
        jobs_1 = run_loop(spark, prep, work, 0.0, "one", min_jobs=1)
    finally:
        harness.stop_session(spark, stop_jvm=False)
    # traced loop: event log on, public functions wrapped
    rec = sp.Recorder(clock=time.time)
    spark, _ = harness.start_session(work, cores, eventlog=True)
    try:
        for fn in ("extract_to_table", "create_table", "append",
                   "merge_upsert", "read_table"):
            rec.wrap(icetable, fn, f"icetable.{fn}")
        for fn in ("extract_pages", "metrics_from_extracted"):
            rec.wrap(pipeline, fn, f"pipeline.{fn}")
        w0 = time.time()
        warm_up(spark, prep, cores)
        w1 = time.time()
        jobs_t = run_loop(spark, prep, work, args.seconds / 2, "traced", rec,
                          min_jobs=MIN_TRACED_JOBS)
        last = jobs_t[-1].table
        noop = rerun_noop(spark, prep, last, rec)
    finally:
        rec.unwrap_all()
        harness.stop_session(spark, stop_jvm=True)

    log = EventLog.load(work.sub("events"), work.sub("tables") + os.sep,
                        work.sub("pages") + os.sep)
    job_spans = [i for i, s in enumerate(rec.spans) if s.name == "job"]
    per_job = [layers.job_layers(log, rec.spans, i, prep.calls, j.table)
               for i, j in zip(job_spans, jobs_t)]
    rerun = layers.job_layers(
        log, rec.spans, job_spans[-1],
        [layers.Call("resume", len(prep.workload.pages))], last,
    )
    metrics = {k: statistics.median(j[k] for j in per_job)
               for k in per_job[0] if k != "calls"}
    for k in CALL_METRICS:
        values = [v for j in per_job + [rerun] for v in j["calls"][k]]
        metrics[k] = statistics.median(values) if values else 0.0
    metrics.update(kern)
    checks = check_jobs(prep, warm + jobs_u + jobs_1 + jobs_t)
    dps_u, dps_t = docs_per_s(prep, jobs_u), docs_per_s(prep, jobs_t)
    metrics.update({
        "session.build_s": build_s,
        "session.warmup_s": warm_s,
        "session.python_worker_start_ms":
            layers.python_worker_ms(log.window(w0 * 1000, w1 * 1000)),
        "document.serial_docs_per_s": serial["docs_per_s"],
        "pipeline.parallel_efficiency":
            len(prep.extracted) * len(jobs_u) / sum(j.wall_s for j in jobs_u)
            / (cores * serial["docs_per_s"]),
        "document.doc_ms_p50": kernel.percentile(serial["doc_ms"], 50),
        "document.doc_ms_p99": kernel.percentile(serial["doc_ms"], 99),
        "scaling.efficiency_1to4": dps_u / (cores * docs_per_s(prep, jobs_1)),
        "memory.peak_rss_mb": mem.peak / 2**20,
        "memory.driver_peak_mb": mem.peaks["driver"] / 2**20,
        "memory.jvm_peak_mb": mem.peaks["jvm"] / 2**20,
        "memory.jvm_heap_used_peak_mb": mem.peaks["jvm_heap_used"] / 2**20,
        "memory.python_workers_peak_mb": mem.peaks["python_workers"] / 2**20,
        "trace.overhead_docs_per_s": dps_t - dps_u,
        "trace.kernel_overhead_docs_per_s":
            traced_rate - serial["docs_per_s"],
        "check.text_mismatch": checks["text_mismatch"],
        "check.doc_fail_frac": checks["doc_fail_frac"],
    })
    failed = checks["failed"] + (0 if noop else 1)
    detail = {
        "docs_per_s": {"untraced": dps_u, "traced": dps_t,
                       "local1": docs_per_s(prep, jobs_1)},
        "job_wall_s": {"untraced": [j.wall_s for j in jobs_u],
                       "local1": [j.wall_s for j in jobs_1],
                       "traced": [j.wall_s for j in jobs_t]},
        "rerun_noop": noop,
        "composition": prep.workload.composition(),
        "layers_per_job": [{k: v for k, v in j.items() if k != "calls"}
                           for j in per_job],
        "checks": checks,
    }
    n_jobs = len(warm) + len(jobs_u) + len(jobs_1) + len(jobs_t)
    return _result(metrics, PER_LAYER, n_jobs * prep.rows_handled,
                   failed), detail


def _result(values: dict, units: dict, attempted: int, failed: int) -> dict:
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }


# --------------------------------------------------------- provenance

def provenance(args, cores: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    ram_mb = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                ram_mb = int(line.split()[1]) // 1024
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, check=False)
        commit = out.stdout.strip() or None
    # a checkout without .git still identifies its code by content
    digest = hashlib.sha256()
    for sub in ("pdf_extractor_spark", "perfbench"):
        for root, _dirs, names in sorted(os.walk(os.path.join(ROOT, sub))):
            for name in sorted(n for n in names if n.endswith(".py")):
                path = os.path.join(root, name)
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "master": f"local[{cores}]",
        "ram_mb": ram_mb, "python": platform.python_version(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "commit": commit,
        "source_sha256": digest.hexdigest(),
    }


def run_all(args) -> int:
    """Every workload in its own process, then one short headline."""
    headline = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    setups = []
    for name in ("pdf_mixed", "html_crawl", "recrawl_resume"):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, check=False,
        )
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines), flush=True)
        if not lines or out.returncode not in (0, 1):
            sys.stderr.write(out.stderr[-4000:])
            return 1
        res = json.loads(lines[-1])
        headline["correct"] &= res["correct"]
        headline["attempted"] += res["attempted"]
        headline["failed"] += res["failed"]
        m = res["metrics"]
        if "docs_per_s" in m:
            headline["metrics"][f"{name}.docs_per_s"] = m["docs_per_s"]
            setups.append(m["setup_s"]["value"])
    if setups:
        headline["metrics"]["setup_s"] = {"value": statistics.median(setups),
                                          "unit": "s"}
    print(json.dumps(headline, separators=(",", ":")))
    return 0 if headline["correct"] else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "pdf_extractor_spark"))
            and os.path.isdir(GOLDEN_DIR)):
        sys.stderr.write("perfbench: run from a checkout of the engine "
                         "(pdf_extractor_spark/ and tests/golden/ missing)\n")
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    import harness

    cores = min(4, os.cpu_count() or 1)
    work = harness.WorkDir()
    try:
        result, detail = (traced if args.trace else untraced)(args, work, cores)
        record = {"provenance": provenance(args, cores), **detail}
    finally:
        work.close()
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result, separators=(",", ":")))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
