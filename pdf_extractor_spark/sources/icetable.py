"""A from-scratch snapshot/manifest table format in the Iceberg
mold — the missing piece between "a directory of parquet" and the
north rule's "Iceberg table of pages".

Public concepts only (the architecture every modern table format —
Iceberg, Delta, Hudi — shares, reimplemented over plain files):

- **Data files are immutable parquet**; the table is defined by
  METADATA, not by directory listing. Readers never glob.
- **A manifest** lists each data file with its row count and
  per-column min/max/null statistics — harvested from the parquet
  FOOTERS via pyarrow (no data read), the same stats the writers
  embedded for row-group skipping.
- **A snapshot** is a manifest plus a parent pointer; the snapshot
  log is the table's history and any old snapshot remains readable
  (time travel) because data files are never mutated in place.
- **Commit is one atomic pointer flip**: the snapshot JSON is
  written first, then ``VERSION`` is replaced atomically
  (``os.replace``). A crash between the two leaves the table on the
  previous snapshot — half-written commits are invisible.
- **Scan planning prunes by stats**: a predicate ``col op value``
  eliminates every file whose [min, max] range cannot satisfy it
  before Spark reads a byte — the file-level analogue of row-group
  skipping, and the reason a 10^12-row table with a time-clustered
  layout (see ``functions/zorder.py``) answers host- or time-scoped
  queries from a sliver of its files.
- **MERGE is copy-on-write**: the incoming rows are written as data
  files first, and the merge is planned from THEIR footers: only
  files whose key RANGE overlaps the incoming [min, max] are
  rewritten (manifest pruning applied to the write side); untouched
  files carry over into the new snapshot by reference. One atomic
  flip commits the carried-over, rewritten and incoming files.
- **Writes come first, and an empty write commits nothing**: every
  writer lands its data files, drops the zero-row ones, and commits
  only if rows remain. "Is there anything to do?" is answered by the
  write itself, never by a separate Spark job over the input.
- **Reads carry their schema**: Spark writes the frame's schema into
  every parquet footer it produces, and every data file here is
  written by Spark, so a reader takes the schema from one footer
  (pyarrow, no data read) instead of letting Spark run a
  schema-inference job per read.
- **Writes are schema-enforced**: an append or merge whose frame
  differs from the table in column names, order or types raises
  before it writes a data file (Delta Lake's schema enforcement), so
  every data file of a table shares one schema and the one-footer
  read above is sound.

Deliberately minimal: single table version lineage (optimistic
last-writer-wins with a staleness check), no partition spec (the
Z-order key makes sort-clustering the layout tool), no schema
evolution. Each omission is a documented scope cut, not an
oversight.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CommitConflict(RuntimeError):
    """The table advanced underneath an in-flight commit."""


class SchemaMismatch(ValueError):
    """A write's schema differs from the table's."""


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _version_file(path: str) -> str:
    return os.path.join(_meta_dir(path), "VERSION")


def table_exists(path: str) -> bool:
    """True once the table's first snapshot has been committed."""
    return os.path.exists(_version_file(path))


def current_snapshot_id(path: str) -> int:
    with open(_version_file(path)) as fh:
        return int(fh.read().strip())


def _snap_path(path: str, snap_id: int) -> str:
    return os.path.join(_meta_dir(path), f"snap-{snap_id}.json")


def read_snapshot(path: str, snap_id: int | None = None) -> dict:
    if snap_id is None:
        snap_id = current_snapshot_id(path)
    with open(_snap_path(path, snap_id)) as fh:
        return json.load(fh)


def _file_stats(fpath: str, stat_cols: list[str]) -> dict:
    """Footer-only stats harvest: min/max/nulls per stat column,
    merged across row groups. No data pages are read."""
    meta = pq.ParquetFile(fpath).metadata
    names = {
        meta.schema.column(i).name: i
        for i in range(meta.num_columns)
    }
    out: dict = {}
    for col in stat_cols:
        ci = names.get(col)
        if ci is None:
            continue
        mn = mx = None
        nulls = 0
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                mn = mx = None
                break
            v_min, v_max = st.min, st.max
            mn = v_min if mn is None or v_min < mn else mn
            mx = v_max if mx is None or v_max > mx else mx
            nulls += st.null_count or 0
        if mn is not None:
            if isinstance(mn, bytes):
                mn, mx = mn.decode("utf-8", "replace"), mx.decode(
                    "utf-8", "replace"
                )
            out[col] = {"min": mn, "max": mx, "nulls": nulls}
    return out


def _write_data_files(
    df: DataFrame, path: str, stat_cols: list[str]
) -> list[dict]:
    """Materialize ``df`` as immutable parquet under data/ and return
    manifest entries."""
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    os.makedirs(_data_dir(path), exist_ok=True)
    entries = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        final = os.path.join(
            _data_dir(path), f"{uuid.uuid4().hex}.parquet"
        )
        os.replace(os.path.join(staging, name), final)
        meta = pq.ParquetFile(final).metadata
        entries.append(
            {
                "path": final,
                "n_rows": meta.num_rows,
                "stats": _file_stats(final, stat_cols),
            }
        )
    for leftover in os.listdir(staging):
        os.remove(os.path.join(staging, leftover))
    os.rmdir(staging)
    return entries


def _commit(
    path: str, manifest: list[dict], parent: int | None,
    operation: str,
) -> int:
    """Write the snapshot, then flip VERSION atomically. Raises
    :class:`CommitConflict` if the table advanced past ``parent``."""
    snap_id = (parent or 0) + 1
    if parent is not None:
        live = current_snapshot_id(path)
        if live != parent:
            raise CommitConflict(
                f"table at snapshot {live}, expected {parent}"
            )
    snap = {
        "snapshot_id": snap_id,
        "parent": parent,
        "operation": operation,
        "committed_at": int(time.time()),
        "manifest": manifest,
    }
    os.makedirs(_meta_dir(path), exist_ok=True)
    with open(_snap_path(path, snap_id), "w") as fh:
        json.dump(snap, fh)
    tmp = _version_file(path) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(str(snap_id))
    os.replace(tmp, _version_file(path))  # THE commit point
    return snap_id


def create_table(
    df: DataFrame, path: str, stat_cols: list[str]
) -> int | None:
    """Create the table at ``path`` from the rows of ``df`` and return
    its first snapshot id. When ``df`` has no rows nothing is
    committed and the call returns None, after removing the
    directories it made (``data/``, and ``path`` if it did not exist);
    a directory that existed before the call is never removed."""
    made = [d for d in (path, _data_dir(path)) if not os.path.exists(d)]
    os.makedirs(path, exist_ok=True)
    entries = _drop_empty(_write_data_files(df, path, stat_cols))
    if not entries:
        for d in reversed(made):
            os.rmdir(d)
        return None
    return _commit(path, entries, None, "create")


def append(
    df: DataFrame, path: str, stat_cols: list[str]
) -> int | None:
    """Append the rows of ``df`` and return the new snapshot id, or
    None (nothing committed) when ``df`` has no rows. A ``df`` whose
    schema differs from the table's raises :class:`SchemaMismatch`
    before any file is written."""
    parent = current_snapshot_id(path)
    manifest = read_snapshot(path, parent)["manifest"]
    _check_schema(df, manifest)
    entries = _drop_empty(_write_data_files(df, path, stat_cols))
    if not entries:
        return None
    return _commit(path, manifest + entries, parent, "append")


def _overlaps(stats: dict | None, lo, hi) -> bool:
    if not stats:
        return True  # no stats: cannot prune (fail-safe)
    return not (stats["max"] < lo or stats["min"] > hi)


def plan_files(
    path: str,
    predicate: tuple[str, str, object] | None = None,
    snap_id: int | None = None,
) -> list[dict]:
    """Scan planning: manifest entries surviving stats pruning for
    ``predicate`` = (col, op, value), op ∈ {'=', '<', '<=', '>',
    '>=', 'between'} (value = (lo, hi) for between)."""
    manifest = read_snapshot(path, snap_id)["manifest"]
    if predicate is None:
        return manifest
    col, op, value = predicate
    keep = []
    for entry in manifest:
        st = entry["stats"].get(col)
        if st is None:
            keep.append(entry)  # unstated column: cannot prune
            continue
        if op == "=":
            ok = st["min"] <= value <= st["max"]
        elif op == "<":
            ok = st["min"] < value
        elif op == "<=":
            ok = st["min"] <= value
        elif op == ">":
            ok = st["max"] > value
        elif op == ">=":
            ok = st["max"] >= value
        elif op == "between":
            ok = _overlaps(st, value[0], value[1])
        else:
            raise ValueError(f"unknown op {op!r}")
        if ok:
            keep.append(entry)
    return keep


# the footer key under which Spark's parquet writer stores the
# frame's schema as StructType JSON
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(fpath: str) -> StructType:
    """The frame schema Spark wrote into a data file's footer."""
    footer = pq.read_metadata(fpath).metadata
    return StructType.fromJson(json.loads(footer[_SPARK_SCHEMA_KEY]))


def _read(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Read data files under the schema Spark wrote into the first
    one's footer: a footer read here, instead of the schema-inference
    Spark job that ``spark.read.parquet`` launches without a schema."""
    return spark.read.schema(_footer_schema(paths[0])).parquet(*paths)


def _check_schema(df: DataFrame, manifest: list[dict]) -> None:
    """Raise :class:`SchemaMismatch` unless ``df`` has the table's
    column names, order and types. Nullability is not compared: a
    footer keeps the nullability of the frame that wrote it, and a
    literal column is non-nullable. The table's schema is read from
    one footer, as :func:`_read` does, so the check runs no Spark
    job."""
    if not manifest:
        return
    want = _footer_schema(manifest[0]["path"]).simpleString()
    got = df.schema.simpleString()
    if got != want:
        raise SchemaMismatch(f"table has {want}, write has {got}")


def read_table(
    spark: SparkSession,
    path: str,
    predicate: tuple[str, str, object] | None = None,
    snap_id: int | None = None,
) -> DataFrame:
    """Read via the manifest (never by listing), after file-level
    stats pruning. The schema comes from a footer, so building the
    frame runs no Spark job. An empty plan returns an empty frame with
    the table's schema (from any manifest file's footer)."""
    files = plan_files(path, predicate, snap_id)
    manifest = read_snapshot(path, snap_id)["manifest"]
    if not manifest:
        raise ValueError("empty table has no schema source")
    if not files:
        return _read(spark, [manifest[0]["path"]]).limit(0)
    return _read(spark, [e["path"] for e in files])


def _drop_empty(entries: list[dict]) -> list[dict]:
    """Delete zero-row data files and return the remaining entries."""
    for e in entries:
        if not e["n_rows"]:
            os.remove(e["path"])
    return [e for e in entries if e["n_rows"]]


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    stat_cols: list[str],
) -> int | None:
    """Copy-on-write MERGE on ``key``. Returns the new snapshot id, or
    None (nothing committed) when ``df`` has no rows. The incoming rows
    are written as data files FIRST, so ``df`` is evaluated exactly
    once; the merge is then planned from those files: the incoming key
    range [lo, hi] comes from their footer stats, files whose key range
    overlaps it are rewritten without the rows whose key was just
    written, and all other files carry over BY REFERENCE. One atomic
    snapshot flip commits untouched + survivors + incoming; a crash
    before it leaves only unreferenced files for
    :func:`remove_orphan_files`. A ``df`` whose schema differs from
    the table's raises :class:`SchemaMismatch` before any file is
    written."""
    parent = current_snapshot_id(path)
    manifest = read_snapshot(path)["manifest"]
    _check_schema(df, manifest)
    incoming = _drop_empty(_write_data_files(df, path, stat_cols))
    if not incoming:
        return None
    ranges = [e["stats"].get(key) for e in incoming]
    if all(ranges):
        lo = min(r["min"] for r in ranges)
        hi = max(r["max"] for r in ranges)
        touched = [
            e for e in manifest
            if _overlaps(e["stats"].get(key), lo, hi)
        ]
    else:
        touched = manifest  # no stats: cannot prune (fail-safe)
    # set-difference on file paths: a list-membership scan is O(n^2)
    # dict compares, quadratic at production manifest sizes
    touched_paths = {e["path"] for e in touched}
    untouched = [
        e for e in manifest if e["path"] not in touched_paths
    ]
    survivors = []
    if touched:
        old = _read(spark, [e["path"] for e in touched])
        keys = _read(spark, [e["path"] for e in incoming]).select(key)
        survivors = _drop_empty(_write_data_files(
            old.join(keys, key, "left_anti"), path, stat_cols
        ))
    return _commit(
        path, untouched + survivors + incoming, parent, "merge"
    )


def snapshot_log(path: str) -> list[dict]:
    """History, oldest first: (snapshot_id, operation, n_files,
    n_rows) per snapshot."""
    out = []
    sid: int | None = current_snapshot_id(path)
    while sid is not None:
        snap = read_snapshot(path, sid)
        out.append(
            {
                "snapshot_id": snap["snapshot_id"],
                "operation": snap["operation"],
                "n_files": len(snap["manifest"]),
                "n_rows": sum(
                    e["n_rows"] for e in snap["manifest"]
                ),
            }
        )
        sid = snap["parent"]
    return list(reversed(out))


# ------------------------------------------- oracle-gated catalog body
#
# The pruning contract as a driver-checked query: build the table
# from the documents frame in FIVE range-clustered appends (each one
# file — deterministic layout by construction), scan with a range
# predicate, and report what the planner did next to what the data
# holds. The oracle recomputes every number relationally: file
# counts from the append schedule's chunk arithmetic, row counts
# from the predicate itself, and the time-travel row count from the
# first chunk — so a pruning bug (wrong file set) or an isolation
# bug (snapshot 1 seeing later data) both hash-mismatch.

N_CHUNKS = 5


def table_pruning_catalog(spark, sf_dir: str):
    """Catalog body, driver-gated: five range-clustered appends, then
    a range scan whose PLANNED FILE COUNT, predicate row count,
    time-travel row count (snapshot 1) and snapshot-log length are all
    recomputed relationally by the oracle. A pruning bug (wrong file
    set) or an isolation bug (snapshot 1 seeing later data) both
    hash-mismatch."""
    import tempfile

    from pyspark.sql import functions as F

    docs = spark.read.schema(
        "doc_id long, lang string, source string"
    ).parquet(f"{sf_dir}/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    chunk = (max_id + N_CHUNKS) // N_CHUNKS
    tmp = tempfile.mkdtemp(prefix="icetable_catalog_")
    path = f"{tmp}/t"
    first = None
    for c in range(N_CHUNKS):
        part = docs.where(
            (F.col("doc_id") >= c * chunk)
            & (F.col("doc_id") < (c + 1) * chunk)
        ).coalesce(1)
        if c == 0:
            first = create_table(part, path, ["doc_id"])
        else:
            append(part, path, ["doc_id"])
    lo, hi = max_id * 25 // 100, max_id * 60 // 100
    pred = ("doc_id", "between", (lo, hi))
    planned = plan_files(path, pred)
    n_rows = (
        read_table(spark, path, pred)
        .where(F.col("doc_id").between(lo, hi))
        .count()
    )
    snap1_rows = read_table(spark, path, snap_id=first).count()
    log = snapshot_log(path)
    row = (
        len(plan_files(path)),
        len(planned),
        n_rows,
        snap1_rows,
        len(log),
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "n_files_total int, n_files_planned int, n_rows_pred long, "
        "n_rows_snap1 long, n_snapshots int",
    )


def duck_table_pruning_sql(source: str = "documents") -> str:
    """Relational twin: chunk arithmetic + predicate counts over the
    same documents frame."""
    return f"""
WITH m AS (
  SELECT max(doc_id) AS max_id FROM {source}
), params AS (
  SELECT max_id,
         (max_id + {N_CHUNKS}) // {N_CHUNKS} AS chunk,
         max_id * 25 // 100 AS lo,
         max_id * 60 // 100 AS hi
  FROM m
)
SELECT CAST({N_CHUNKS} AS INT) AS n_files_total,
       -- chunks overlapping [lo, hi]: floor(hi/chunk)-floor(lo/chunk)+1
       CAST(hi // chunk - lo // chunk + 1 AS INT) AS n_files_planned,
       (SELECT CAST(count(*) AS BIGINT) FROM {source}, params
        WHERE doc_id BETWEEN lo AND hi)          AS n_rows_pred,
       (SELECT CAST(count(*) AS BIGINT) FROM {source}, params
        WHERE doc_id < chunk)                    AS n_rows_snap1,
       CAST({N_CHUNKS} AS INT) AS n_snapshots
FROM params
"""


# ------------------------------------- extraction job on the table
#
# The north rule's resume loop on the REAL table format: extraction
# output lives in a snapshot table, a re-run anti-joins against the
# CURRENT snapshot's urls (never a directory listing), recrawls
# upsert by url through the copy-on-write MERGE, and every batch is
# one atomic commit — a job killed mid-write leaves the table on the
# previous snapshot with no half-batch visible, which is the
# property "append parquet + hope" cannot give.

TABLE_STAT_COLS = ["url", "warc_ts"]


def extract_to_table(
    spark: SparkSession,
    pages: DataFrame,
    table_path: str,
    num_partitions: int | None = None,
    upsert: bool = False,
) -> int | None:
    """Resume-aware extraction into a snapshot table. Returns the new
    snapshot id, or None when nothing new needed extracting.

    ``pages`` is evaluated once: the call extracts and writes straight
    away, and when no row was extracted the write leaves no file and
    commits no snapshot (:func:`create_table`, :func:`append` and
    :func:`merge_upsert` return None). No separate job checks for work
    first.

    Every row of ``pages`` that is extracted is committed: callers pass
    one row per url. On append, urls already stored are skipped; on
    ``upsert=True``, every incoming row replaces the stored row of its
    url, so a batch holding two crawls of one url would commit both.
    ``streaming.incremental.stream_extract_upsert`` de-duplicates its
    micro-batches (newest ``warc_ts`` per url, nothing older than what
    is stored) before calling this.

    ``num_partitions=None`` extracts with one task per task slot, so
    the call runs one Python wave (``plans.pipeline.extract_pages``)."""
    from ..plans.pipeline import extract_pages

    exists = table_exists(table_path)
    todo = pages
    if exists and not upsert:
        done = read_table(spark, table_path).select("url")
        todo = pages.join(done, "url", "left_anti")
    extracted = extract_pages(todo, num_partitions=num_partitions)
    if not exists:
        return create_table(extracted, table_path, TABLE_STAT_COLS)
    if upsert:
        return merge_upsert(
            spark, extracted, table_path, "url", TABLE_STAT_COLS
        )
    return append(extracted, table_path, TABLE_STAT_COLS)


# ---------------------------------------- maintenance: compact + vacuum
#
# The two background jobs every snapshot table needs at scale:
#
# - **Compaction**: streaming/resume appends accrete small files;
#   scan cost is per-file (open, footer, seek), so a 10^12-row table
#   fed by per-batch commits degrades until someone rewrites the
#   small files into full ones. Compaction is DATA-NEUTRAL: the new
#   snapshot holds the same rows re-binned; every prior snapshot
#   still reads its own files.
# - **Snapshot expiry (vacuum)**: time travel holds data files live
#   forever; expiry picks a horizon, drops snapshots behind it, and
#   deletes every data file unreachable from the kept set. The
#   reachability walk is over manifests, never the directory — the
#   same never-list discipline as the readers. Expiry is the ONLY
#   operation that deletes data.

COMPACT_MIN_ROWS = 100_000


def compact(
    spark: SparkSession,
    path: str,
    stat_cols: list[str],
    min_rows: int = COMPACT_MIN_ROWS,
    target_partitions: int = 1,
) -> int | None:
    """Rewrite every data file smaller than ``min_rows`` into
    ``target_partitions`` consolidated files. Returns the new
    snapshot id, or None when nothing qualified."""
    parent = current_snapshot_id(path)
    manifest = read_snapshot(path)["manifest"]
    small = [e for e in manifest if e["n_rows"] < min_rows]
    if len(small) < 2:
        return None  # nothing to gain
    big = [e for e in manifest if e["n_rows"] >= min_rows]
    merged = _read(
        spark, [e["path"] for e in small]
    ).coalesce(target_partitions)
    entries = _drop_empty(_write_data_files(merged, path, stat_cols))
    return _commit(path, big + entries, parent, "compact")


def expire_snapshots(path: str, keep_last: int = 2) -> dict:
    """Drop all but the newest ``keep_last`` snapshots and delete
    data files unreachable from the kept set. Returns counts:
    {snapshots_removed, files_removed}."""
    current = current_snapshot_id(path)
    chain = []
    sid: int | None = current
    while sid is not None:
        snap = read_snapshot(path, sid)
        chain.append(snap)
        sid = snap["parent"]
    kept, dropped = chain[:keep_last], chain[keep_last:]
    live = {
        e["path"] for snap in kept for e in snap["manifest"]
    }
    dead_files = {
        e["path"]
        for snap in dropped
        for e in snap["manifest"]
        if e["path"] not in live
    }
    for f in dead_files:
        if os.path.exists(f):
            os.remove(f)
    for snap in dropped:
        os.remove(_snap_path(path, snap["snapshot_id"]))
    # sever the parent pointer at the new horizon so the log walk
    # terminates instead of chasing a deleted snapshot
    if dropped and kept:
        oldest = kept[-1]
        oldest["parent"] = None
        with open(
            _snap_path(path, oldest["snapshot_id"]), "w"
        ) as fh:
            json.dump(oldest, fh)
    return {
        "snapshots_removed": len(dropped),
        "files_removed": len(dead_files),
    }


def remove_orphan_files(
    path: str, grace_sec: float = 3 * 24 * 3600
) -> dict:
    """Delete debris no snapshot references — the cleanup pass for
    torn commits (Iceberg's ``remove_orphan_files`` action): data
    files absent from every reachable manifest, snapshot JSONs
    outside the reachable chain, stray ``VERSION.tmp-*`` pointers
    and ``_staging-*`` dirs.  Only files older than ``grace_sec``
    go (mtime guard): a writer that has landed its data files but
    not yet flipped VERSION looks exactly like a torn commit from
    here, and real Iceberg documents the same age-based safety
    margin.  Returns {data_files_removed, snapshots_removed,
    tmp_removed, staging_removed}."""
    now = time.time()

    def _old(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) > grace_sec
        except OSError:
            return False  # vanished concurrently: not ours to count

    chain_ids: set[int] = set()
    live: set[str] = set()
    sid: int | None = current_snapshot_id(path)
    while sid is not None:
        snap = read_snapshot(path, sid)
        chain_ids.add(snap["snapshot_id"])
        live |= {e["path"] for e in snap["manifest"]}
        sid = snap["parent"]
    counts = {"data_files_removed": 0, "snapshots_removed": 0,
              "tmp_removed": 0, "staging_removed": 0}
    ddir = _data_dir(path)
    if os.path.isdir(ddir):
        for name in os.listdir(ddir):
            f = os.path.join(ddir, name)
            if f not in live and _old(f):
                os.remove(f)
                counts["data_files_removed"] += 1
    mdir = _meta_dir(path)
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if not name.startswith("snap-"):
                continue
            try:
                snap_id = int(name[5:].split(".")[0])
            except ValueError:
                continue
            f = os.path.join(mdir, name)
            if snap_id not in chain_ids and _old(f):
                os.remove(f)
                counts["snapshots_removed"] += 1
    vbase = os.path.basename(_version_file(path))
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            f = os.path.join(mdir, name)
            if name.startswith(vbase + ".tmp-") and _old(f):
                os.remove(f)
                counts["tmp_removed"] += 1
    for name in os.listdir(path):
        f = os.path.join(path, name)
        if name.startswith("_staging-") and os.path.isdir(f) \
                and _old(f):
            # a writer killed mid-write leaves _temporary/ subtrees
            shutil.rmtree(f)
            counts["staging_removed"] += 1
    return counts


def count_rows(
    path: str,
    predicate: tuple[str, str, object] | None = None,
    snap_id: int | None = None,
) -> tuple[int, bool]:
    """Metadata-only COUNT(*): ``(count, exact)``. With no predicate
    the manifest's row counts answer without reading ANY data — the
    classic table-format fast path. With a predicate the count is
    exact only when every file is either fully inside or fully
    outside the range (clustered layouts often satisfy this);
    otherwise the planned files' total is an UPPER BOUND and
    ``exact=False`` tells the caller to fall back to a real scan."""
    manifest = read_snapshot(path, snap_id)["manifest"]
    if predicate is None:
        return sum(e["n_rows"] for e in manifest), True
    col, op, value = predicate
    if op != "between":
        planned = plan_files(path, predicate, snap_id)
        return sum(e["n_rows"] for e in planned), False
    lo, hi = value
    total = 0
    exact = True
    for e in plan_files(path, predicate, snap_id):
        st = e["stats"].get(col)
        if st is None:
            exact = False
        elif lo <= st["min"] and st["max"] <= hi:
            pass  # fully inside: every row counts
        else:
            exact = False  # straddles the boundary
        total += e["n_rows"]
    return total, exact
