"""Smoke test of ``scripts/kernel_ab.py``: the working tree against
``HEAD`` on the first 30 documents of the pdf_mixed and html_crawl
workloads."""

from __future__ import annotations

import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]


def _in_git_checkout() -> bool:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--verify", "HEAD"], cwd=REPO,
            capture_output=True,
        ).returncode == 0
    except OSError:
        return False


@pytest.mark.skipif(not _in_git_checkout(), reason="needs a git checkout")
def test_kernel_ab_smoke(tmp_path):
    out = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "kernel_ab.py"), "HEAD",
         "--limit", "30", "--passes", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert lines[0] == "ref HEAD seed 1211 passes 1"
    assert lines[1].split() == ["kind", "parent_s", "change_s", "speedup"]
    assert lines[-1].startswith("total ")
    assert lines[-1].endswith("x")
    kinds = {line.split()[0] for line in lines[2:-1]}
    assert kinds and kinds <= {"docwrap_pdf", "fixture_pdf", "long_pdf",
                               "docwrap_html", "fixture_html"}
