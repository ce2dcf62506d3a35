"""Every top-level package definition has a non-test caller.

A name-based reachability walk over the package's top-level functions
and classes, public and private. The roots are everything that runs
outside ``tests/``:

- the module-level code of every package module (the ``CATALOG``
  table among it), with the decorators, defaults and base classes of
  its top-level definitions;
- ``scripts/``, ``perfbench/`` (not its tests), ``bench.py`` and
  ``__spark_entry__.py``.

A reached definition's body reaches every definition whose name it
mentions: a bare name, an attribute, an ``import ... as`` alias, or a
string that is an identifier (``perfbench`` wraps functions by name).
Matching by name can keep a dead definition alive when a live one
shares its name; it never calls a live one dead.

``ALLOWED`` holds the definitions that stay without a non-test caller,
each with its reason; it is a root set too, so their helpers need no
entry. Most are oracles a test compares live code against. The rest
(``PENDING``) are tested helpers that the job does not call yet:
ROADMAP item 4 wires each into the job or deletes it with its tests,
and takes its entry out. The test also fails on an entry that names
nothing or that a non-test root already reaches, so the list only
shrinks.
"""

from __future__ import annotations

import ast

from .test_row_stages import PKG, package_modules

ROOT = PKG.parent

ALLOWED = {
    ("fixtures/corpus.py", "build_pages_frame"):
        "the golden pages frame that the pipeline tests extract",
    ("functions/budget.py", "fair_allocation"):
        "Python reference that crawl_budget_report is compared against",
    ("functions/dedup.py", "minhash_signatures"):
        "SQL form that minhash_mapinpandas is compared against",
    ("functions/dedup.py", "simhash_signatures"):
        "SQL form that simhash_mapinpandas is compared against",
    ("functions/similarity.py", "ivf_codebook"):
        "relational form that ivf_codebook_rows is compared against",
    ("operators/inventory.py", "zorder_overlap_count_matrix"):
        "n-squared reference that zorder_overlap_count is compared against",
    ("operators/layout.py", "detect_columns"):
        "pandas chain that column_texts is compared against",
    ("operators/layout.py", "group_lines"):
        "pandas chain that column_texts is compared against",
    ("operators/markers.py", "remove_markers"):
        "Python twin that remove_markers_col is compared against",
    ("operators/markers.py", "add_quality_marker"):
        "Python twin that add_quality_marker_col is compared against",
    ("sources/icetable.py", "compact"):
        "table maintenance, to join the commit path",
    ("sources/icetable.py", "expire_snapshots"):
        "table maintenance, to join the commit path",
    ("sources/icetable.py", "remove_orphan_files"):
        "torn-commit cleanup, to join the commit path",
    ("streaming/incremental.py", "stream_extract"):
        "streaming form of the extraction job (commits via extract_to_table)",
    ("streaming/incremental.py", "stream_extract_upsert"):
        "streaming upsert form of the extraction job",
}

PENDING = {
    ("functions/consensus.py", "consensus_kernel"):
        "Python multi-engine pick; the catalog's J6 leg is its SQL twin",
    ("functions/consensus.py", "consensus_pick"):
        "DataFrame multi-engine pick over named engine columns",
    ("functions/dedup.py", "dedup_resolution"):
        "keep/drop decision per near-duplicate cluster",
    ("functions/multimodal.py", "attach_binary_payload"):
        "joins image payloads onto their documents",
    ("functions/multimodal.py", "decode_error_report"):
        "per-payload decode failures, isolated per row",
    ("functions/multimodal.py", "frame_sample_plan"):
        "which video frames to sample per document",
    ("functions/robots.py", "parse_sitemap_urls"):
        "Sitemap directives of a robots.txt",
    ("operators/avi_codec.py", "avi_demux"):
        "splits an AVI into its interleaved streams",
    ("operators/avi_codec.py", "avi_decode_audio_samples"):
        "PCM samples of an AVI audio stream",
    ("operators/chunking.py", "chunk_pages"):
        "page-list chunker with four strategies",
    ("operators/chunking.py", "reassemble_chunks"):
        "inverse of chunk_pages, overlap stripped",
    ("operators/chunking.py", "get_chunk_for_page"):
        "page-to-chunk lookup",
    ("operators/chunking.py", "process_chunks_streaming"):
        "per-chunk processing loop",
    ("operators/inventory.py", "remove_suspicious"):
        "strips the markup that hallucination_scan names",
    ("operators/jpeg_codec.py", "jpeg_to_rgb"):
        "YCbCr planes to an RGB array",
    ("operators/markers.py", "format_document"):
        "page-marker document format",
    ("operators/markers.py", "split_by_pages"):
        "inverse of format_document",
    ("operators/ocrfix.py", "detect_issue_spans"):
        "OCR issue spans with their confidences",
    ("operators/ocrfix.py", "resolve_issue_overlaps"):
        "greedy overlap resolution of detect_issue_spans",
    ("plans/bucketing.py", "write_bucketed"):
        "bucketed table writer for exchange-free joins",
    ("plans/bucketing.py", "bucketed_join"):
        "join of two write_bucketed tables",
    ("sources/pages.py", "read_pages_binary"):
        "pages frame from loose files (binaryFile source)",
    ("sources/pages.py", "write_report_csv"):
        "per-document quality report as CSV",
    ("sources/pages.py", "write_report_html"):
        "per-document quality report as HTML",
    ("streaming/fetchjoin.py", "stream_fetch_latency"):
        "stream-stream join of fetch requests and responses",
    ("streaming/incremental.py", "stream_dedup_ingest"):
        "in-window refetch suppression on the pages stream",
    ("streaming/incremental.py", "stream_running_lang_stats"):
        "per-language running totals across restarts",
    ("streaming/incremental.py", "stream_windowed_ingest_stats"):
        "watermarked windowed ingest counts",
}

ALLOWED |= PENDING

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(nodes) -> set[str]:
    """Every name the ``nodes`` mention, ``import ... as`` aliases
    resolved to the imported name as well."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias) and n.asname:
                out.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                    and n.value.isidentifier():
                out.add(n.value)
    return out


def _graph() -> tuple[dict[tuple[str, str], set[str]], set[str]]:
    """(definition → names its body mentions, names the roots
    mention)."""
    defs, rooted = {}, set()
    for rel, tree in package_modules().items():
        at_import = []
        for stmt in tree.body:
            if not isinstance(stmt, _DEFS):
                at_import.append(stmt)
                continue
            defs[(rel, stmt.name)] = _names([stmt])
            at_import += stmt.decorator_list
            if isinstance(stmt, ast.ClassDef):
                at_import += stmt.bases + stmt.keywords
            else:
                at_import += stmt.args.defaults
                at_import += [d for d in stmt.args.kw_defaults if d]
        rooted |= _names(at_import)
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    for path in files:
        rooted |= _names([ast.parse(path.read_text(encoding="utf-8"))])
    return defs, rooted


def _reached(defs, names: set[str], keys=()) -> set[tuple[str, str]]:
    """The definitions reached from ``names`` and the definitions
    ``keys``, to a fixed point."""
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    reached, todo, seen = set(keys), set(names), set()
    for key in keys:
        todo |= defs[key]
    while todo:
        name = todo.pop()
        seen.add(name)
        for key in by_name.get(name, ()):
            if key not in reached:
                reached.add(key)
                todo |= defs[key] - seen
    return reached


def test_every_definition_has_a_non_test_caller():
    defs, rooted = _graph()
    reached = _reached(defs, rooted, set(ALLOWED) & set(defs))
    dead = [f"{rel}::{name}" for rel, name in sorted(set(defs) - reached)]
    assert not dead, "reached only from tests/, or not at all:\n" + (
        "\n".join(dead)
    )


def test_allow_list_holds_no_stale_entry():
    defs, rooted = _graph()
    missing = sorted(set(ALLOWED) - set(defs))
    assert missing == [], f"allowed but not defined: {missing}"
    live = sorted(set(ALLOWED) & _reached(defs, rooted))
    assert live == [], f"allowed but reached from non-test code: {live}"
