"""Interleaved A/B of the extraction kernel against a git ref.

Usage: python scripts/kernel_ab.py <parent-ref> [--seed N] [--passes N]
                                   [--limit N]

Serial runs timed one after the other drift by up to ±30 % on a
machine shared with other work, so the two kernels are timed in ONE
process, alternating per document: the package as committed at
``<parent-ref>`` is unpacked with ``git archive`` into a temporary
directory under another name (its imports are relative), and the
working tree's package is imported as usual.

The documents are perfbench's ``pdf_mixed`` and ``html_crawl``
workloads for ``--seed`` (docwrap PDFs, fixture PDFs and long PDFs;
docwrap HTML in every transport variant and the HTML fixtures), built
with the generator in ``perfbench/workloads.py``, which is only
imported. On the first pass every record of the working tree must
equal the parent's and its extracted text the page's oracle; the
script exits 1 at the first difference. It prints, per page kind and
in total, the seconds each side spent over all passes and the
parent/working-tree speed-up. ``--limit`` keeps the first N documents
of each workload (a smoke run).
"""

from __future__ import annotations

import argparse
import importlib
import io
import pathlib
import subprocess
import sys
import tarfile
import tempfile
import time
from collections import defaultdict

REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "pdf_extractor_spark"
PARENT_PACKAGE = "pes_parent"
WORKLOADS = ("pdf_mixed", "html_crawl")


def unpack_parent(ref: str, into: pathlib.Path) -> None:
    """``<into>/pes_parent``: the package as committed at ``ref``."""
    archive = subprocess.run(
        ["git", "archive", ref, PACKAGE], cwd=REPO, check=True,
        capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(into, filter="data")
    (into / PACKAGE).rename(into / PARENT_PACKAGE)


def run(ref: str, seed: int, passes: int, limit: int | None) -> dict:
    """Seconds per page kind for both sides, summed over ``passes``."""
    with tempfile.TemporaryDirectory() as tmp:
        unpack_parent(ref, pathlib.Path(tmp))
        sys.path[:0] = [str(REPO), str(REPO / "perfbench"), tmp]
        parent = importlib.import_module(
            f"{PARENT_PACKAGE}.operators.document"
        )
        change = importlib.import_module(f"{PACKAGE}.operators.document")
        import workloads

        pages = [
            page for name in WORKLOADS
            for page in workloads.generate(
                name, seed, str(REPO / "tests" / "golden"), 2
            ).pages[:limit]
        ]
        secs: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
        for p in range(passes):
            for i, page in enumerate(pages):
                order = (parent, change) if (i + p) % 2 == 0 else (
                    change, parent)
                out = {}
                for side in order:
                    t0 = time.perf_counter()
                    out[side] = side.extract_document(page.html)
                    secs[page.kind][side is change] += (
                        time.perf_counter() - t0
                    )
                if p == 0:
                    check(page, out[parent], out[change])
    return dict(secs)


def check(page, rec_parent: dict, rec_change: dict) -> None:
    if rec_change != rec_parent:
        diff = sorted(k for k in rec_change
                      if rec_change.get(k) != rec_parent.get(k))
        sys.exit(f"{page.url}: record differs from the parent's in {diff}")
    if rec_change["extracted_text"] != page.oracle:
        sys.exit(f"{page.url}: extracted_text differs from the oracle")


def report(secs: dict) -> str:
    rows = [("kind", "parent_s", "change_s", "speedup")]
    total = [0.0, 0.0]
    for kind in sorted(secs):
        a, b = secs[kind]
        total[0] += a
        total[1] += b
        rows.append((kind, f"{a:.3f}", f"{b:.3f}", f"{a / b:.3f}x"))
    rows.append(("total", f"{total[0]:.3f}", f"{total[1]:.3f}",
                 f"{total[0] / total[1]:.3f}x"))
    return "\n".join(f"{r[0]:<12} {r[1]:>10} {r[2]:>10} {r[3]:>8}"
                     for r in rows)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("ref", help="git ref of the parent kernel")
    ap.add_argument("--seed", type=int, default=1211)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--limit", type=int, default=None,
                    help="time only the first N documents of each "
                         "workload")
    args = ap.parse_args()
    secs = run(args.ref, args.seed, args.passes, args.limit)
    print(f"ref {args.ref} seed {args.seed} passes {args.passes}")
    print(report(secs))


if __name__ == "__main__":
    main()
