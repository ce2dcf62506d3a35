"""Row stages: the per-row Python stages of the catalog legs go through
``plans.pipeline.map_rows`` / ``map_groups`` after a ``spread``, and
every doc-id spread sizes itself with ``fan_out``.

The package's AST walk (:func:`package_modules`) also serves the
reachability guard in ``test_reachability.py``."""

from __future__ import annotations

import ast
import functools
import pathlib

import pytest

import pdf_extractor_spark
from pdf_extractor_spark.plans.pipeline import map_groups, map_rows, spread

PKG = pathlib.Path(pdf_extractor_spark.__file__).parent

# Batch kernels keep their own mapInPandas body: each holds a memo for
# the whole task or works on the whole batch at once.
BATCH_KERNELS = {
    ("functions/dedup.py", "minhash_mapinpandas"),
    ("functions/dedup.py", "enriched_mapinpandas"),
    ("functions/dedup.py", "simhash_mapinpandas"),
    ("functions/templates.py", "host_template_report"),
    ("functions/bpe.py", "bpe_token_counts"),
    ("functions/similarity.py", "assign_cells_mapinpandas"),
}


@functools.cache
def package_modules() -> dict[str, ast.Module]:
    """Every package module, parsed once: path relative to the package
    (``functions/dedup.py``) → its AST."""
    return {
        path.relative_to(PKG).as_posix():
            ast.parse(path.read_text(encoding="utf-8"))
        for path in sorted(PKG.rglob("*.py"))
    }


def _uses(attr: str, subdirs: tuple[str, ...]) -> list[tuple[str, str]]:
    """(module, top-level function or "<module>") for every use of
    the attribute ``attr`` in the package modules under ``subdirs``
    (``"."`` is the whole package)."""
    found = []
    for rel, tree in package_modules().items():
        if not any(sub == "." or rel.startswith(f"{sub}/")
                   for sub in subdirs):
            continue
        owner = {
            id(n): top.name
            for top in tree.body
            if isinstance(top, (ast.FunctionDef, ast.ClassDef))
            for n in ast.walk(top)
        }
        found += [
            (rel, owner.get(id(n), "<module>"))
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == attr
        ]
    return found


def test_only_batch_kernels_write_their_own_mapinpandas():
    uses = _uses("mapInPandas", ("functions", "sources", "streaming"))
    assert set(uses) - BATCH_KERNELS == set()
    assert set(uses) == BATCH_KERNELS  # the list holds no stale entry


def test_only_fan_out_reads_default_parallelism():
    assert _uses("defaultParallelism", (".",)) == [
        ("plans/pipeline.py", "fan_out")
    ]


def test_spread_prunes_and_takes_one_task_per_slot(spark):
    df = spark.range(40).selectExpr(
        "id AS doc_id", "'x' AS text", "1 AS n"
    )
    out = spread(df, ["doc_id", "text"])
    assert out.columns == ["doc_id", "text"]
    slots = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == slots
    assert spread(df, ["doc_id"], 3).rdd.getNumPartitions() == 3


def test_map_rows_emits_none_one_or_many_rows_per_input(spark):
    df = spark.range(12, numPartitions=2).selectExpr(
        "id AS doc_id", "repeat('ab', int(id % 3)) AS text"
    )

    def rows(doc_id, text):
        # Python objects, not numpy scalars: doc_id is a plain int
        assert type(doc_id) is int and isinstance(text, str)
        return [(doc_id, k, text) for k in range(doc_id % 3)]

    got = map_rows(df, rows, "doc_id long, k int, text string").collect()
    want = [(d, k, "ab" * (d % 3))
            for d in range(12) for k in range(d % 3)]
    assert sorted(tuple(r) for r in got) == want


def test_map_groups_calls_once_per_group_of_a_batch(spark):
    df = spark.range(20, numPartitions=1).selectExpr(
        "id AS doc_id", "cast(id AS string) AS text"
    )

    def rows(gid, group):
        return [(gid, len(group), ",".join(t for _d, t in group))]

    got = map_groups(df, 8, rows, "gid long, n int, texts string")
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, 8, "0,1,2,3,4,5,6,7"),
        (1, 8, "8,9,10,11,12,13,14,15"),
        (2, 4, "16,17,18,19"),
    ]


@pytest.mark.parametrize("n_out", [0, 1])
def test_map_rows_converts_empty_and_all_null_output(spark, n_out):
    """A batch with no output rows, and a column holding only NULLs,
    still convert to the declared types."""
    got = map_rows(
        spark.range(5).withColumnRenamed("id", "doc_id"),
        lambda d: [(d, None)] * n_out, "doc_id long, note string",
    ).collect()
    want = [(d, None) for d in range(5)] * n_out
    assert sorted(tuple(r) for r in got) == want
