"""Local replica of the driver's correctness gate: run every catalog
query on Spark AND its oracle on DuckDB, compare row count + sorted
values AND per-column dtype class (the driver hashes canonically
serialized cells, so int 7 vs float 7.0 is a driver FAIL — a
dtype-blind local compare let exactly that bug class ship in r4).

Usage: python scripts/crosscheck.py [sf_dir] [q1,q2,...]
       python scripts/crosscheck.py --never-checked [sf_dir]
           (run only catalog entries with no driver row in any
            CORRECTNESS_r*.json — VERDICT r4 "Next round" #8)
       python scripts/crosscheck.py --json out.json [sf_dir]
           (also write a machine-readable per-entry record)"""

from __future__ import annotations

import json
import math
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

from pdf_extractor_spark.functions.query_catalog import CATALOG  # noqa: E402
from pdf_extractor_spark.plans.session import build_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """Sort columns by name, rows by values — order-insensitive form."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )
    return df


def dtype_class(series) -> str:
    """int / float / bool / datetime / object — the granularity at
    which the driver's canonical cell serialization distinguishes
    values (7 vs 7.0 serialize differently)."""
    kind = series.dtype.kind
    return {
        "i": "int", "u": "int", "f": "float", "b": "bool",
        "M": "datetime",
    }.get(kind, "object")


def dtypes_equal(a, b) -> tuple[bool, str]:
    """Per-column dtype-CLASS comparison. Object columns holding
    plain Python ints/floats/bools (DuckDB HUGEINT, Spark nullable
    casts) classify by their first non-null value."""
    def klass(s):
        k = dtype_class(s)
        if k == "object":
            for v in s:
                if v is None:
                    continue
                if isinstance(v, bool):
                    return "bool"
                if isinstance(v, int):
                    return "int"
                if isinstance(v, float):
                    return "float"
                return "object"
        return k

    for col in a.columns:
        ka, kb = klass(a[col]), klass(b[col])
        if ka != kb:
            return False, f"{col}: spark={ka} duck={kb}"
    return True, ""


def never_checked_names() -> list[str]:
    """Catalog entries with no row in any CORRECTNESS_r*.json."""
    root = pathlib.Path(__file__).resolve().parents[1]
    seen: set[str] = set()
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            seen |= set(json.loads(p.read_text()))
        except (OSError, ValueError):
            pass
    return [n for n in CATALOG if n not in seen]


def values_equal(a, b) -> bool:
    if a.shape != b.shape or list(a.columns) != list(b.columns):
        return False
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for x, y in zip(av, bv):
            if isinstance(x, float) or isinstance(y, float):
                if x is None and y is None:
                    continue
                if not math.isclose(float(x), float(y),
                                    rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def main() -> None:
    argv = list(sys.argv[1:])
    never_only = "--never-checked" in argv
    if never_only:
        argv.remove("--never-checked")
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sys.argv = [sys.argv[0]] + argv
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session(extra={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    if only is not None:
        unknown = only - set(CATALOG)
        if unknown:
            sys.exit(f"unknown query names: {sorted(unknown)}")
    if never_only:
        nc = never_checked_names()
        print(f"never-driver-checked entries: {len(nc)}")
        only = set(nc) if only is None else only & set(nc)
    failures = []
    records: dict[str, dict] = {}
    for name, qd in CATALOG.items():
        if only is not None and name not in only:
            continue
        try:
            sdf = qd.spark(spark, sf_dir).toPandas()
            odf = con.sql(qd.oracle).df()
            ns, no = normalize(sdf), normalize(odf)
            ok_rows = len(ns) == len(no)
            ok_cols = list(ns.columns) == list(no.columns)
            ok_dt, dt_msg = (
                dtypes_equal(ns, no) if ok_cols else (True, "")
            )
            ok_vals = (
                ok_rows and ok_cols and ok_dt and values_equal(ns, no)
            )
            if ok_cols and not ok_dt:
                print(f"{name:32s} DTYPE    {dt_msg}")
            # a 0 = 0 match proves nothing about the query body
            # (VERDICT r3 "What's wrong" #3) — vacuous passes FAIL here
            if ok_vals and len(no) == 0:
                ok_vals = False
                print(f"{name:32s} VACUOUS  oracle returned 0 rows")
            status = "OK" if ok_vals else "MISMATCH"
            records[name] = {
                "mode": "oracle", "status": status,
                "rows_spark": len(ns), "rows_duck": len(no),
                "cols_ok": ok_cols, "dtypes_ok": ok_dt,
            }
            print(f"{name:32s} {status}  spark={len(ns)} duck={len(no)} "
                  f"cols_ok={ok_cols}")
            if not ok_vals:
                failures.append(name)
                print("  spark cols:", list(ns.columns))
                print("  duck  cols:", list(no.columns))
                if ok_cols and ok_rows:
                    for col in ns.columns:
                        if not values_equal(ns[[col]], no[[col]]):
                            print(f"  first diff col={col}")
                            merged = ns[[col]].compare(no[[col]])
                            print(merged.head(4))
                            break
        except Exception as exc:
            failures.append(name)
            records[name] = {
                "mode": "oracle", "status": "ERROR",
                "error": f"{type(exc).__name__}: {exc}"[:200],
            }
            print(f"{name:32s} ERROR {type(exc).__name__}: {exc}")
    spark.stop()
    if json_out:
        pathlib.Path(json_out).write_text(json.dumps(
            {
                "sf_dir": sf_dir,
                "n_checked": len(records),
                "failures": failures,
                "entries": records,
            },
            indent=1,
        ))
    print("\nFAILURES:", failures if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
