"""Driver-contract tests: entry() smoke + a sample of queries() vs
oracle_sql() through DuckDB at sf0.001 (SURVEY.md §5.2 item 4).

The full 20-query sweep lives in scripts/crosscheck.py (run per
milestone); here a fast representative subset keeps `pytest -x -q`
quick while still exercising the contract end to end.
"""

from __future__ import annotations

import math
import pathlib
import sys

import duckdb
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
SAMPLE = [
    "q1_pricing_summary",
    "c1_sessionize",
    "dedup_minhash_signatures",
    "ann_cosine_topk",
    "extract_html_roundtrip",
    "extract_pdf_roundtrip",
    "j2_asof_band",
    "w_tumbling_hour",
    "a11_error_rollup",
    "extract_full_stats",
    "extract_svg_roundtrip",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # flagship invariant: every extracted doc is byte-identical
    assert all(r["n_byte_identical"] == r["n_docs"] for r in rows)


def test_every_query_has_matching_oracle_keys(spark, duck):
    """Every registration pairs a Spark plan with an oracle of the
    same column names: an entry pointed at the wrong function or table
    fails here. Only column names are read; no result is collected."""
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) == set(q)
    assert len(q) >= 20
    mismatched = {}
    for name, build in q.items():
        spark_cols = [c.lower() for c in build(spark, SF_DIR).columns]
        duck_cols = [c.lower() for c in duck.sql(o[name]).columns]
        if spark_cols != duck_cols:
            mismatched[name] = (spark_cols, duck_cols)
    assert not mismatched, mismatched


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_duckdb_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    sdf = _normalize(q(spark, SF_DIR).toPandas())
    odf = _normalize(duck.sql(sql).df())
    assert list(sdf.columns) == list(odf.columns)
    assert len(sdf) == len(odf)
    for col in sdf.columns:
        for x, y in zip(sdf[col].tolist(), odf[col].tolist()):
            if isinstance(x, float) or isinstance(y, float):
                assert math.isclose(
                    float(x), float(y), rel_tol=1e-9, abs_tol=1e-9
                ), (name, col, x, y)
            else:
                assert x == y, (name, col, x, y)


def test_rotation_invariant_never_checked_bounded():
    """Driver-window invariant: every catalog entry without a driver
    row in ANY CORRECTNESS_r*.json sits inside the 50-entry driver
    window."""
    import json
    import pathlib

    from pdf_extractor_spark.functions.query_catalog import CATALOG

    root = pathlib.Path(__file__).resolve().parents[1]
    seen: set[str] = set()
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        seen |= set(json.loads(p.read_text()))
    window = set(list(CATALOG)[:50])
    never = {n for n in CATALOG if n not in seen}
    leftover = never - window
    assert not leftover, sorted(leftover)
