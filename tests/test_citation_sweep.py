"""Docstring-citation sweep: every reference-style path must exist.

Rounds 7 and 8 each found docstrings citing reference files that do not
exist (shards.py in r7; manifest.py / session_window_stream.py /
olap_ext.py in r8 — all fixed).  This sweep kills the bug class: it
extracts every path-like citation into the reference's directory tree
from the package source and asserts the file exists under
``/root/reference`` (or, for directories the repo shares with the
reference such as ``tests/``, under the repo root).

Pure-filesystem test — no SparkSession needed.
"""

from __future__ import annotations

import pathlib
import re

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "etl_data_warehouse_spark"
REFERENCE = pathlib.Path("/root/reference")

# Directories that exist in the reference repo's tree.  A citation like
# "transformers/data_transformer.py:59" must resolve under /root/reference.
_REF_DIRS = (
    "extractors",
    "transformers",
    "loaders",
    "warehouse",
    "dbt_warehouse",
    "airflow",
    "source_databases",
    "tests",
    "config",
)

_CITE = re.compile(
    r"(?:%s)/[\w/\.\-]+\.(?:py|sql|yml|yaml|md|txt)" % "|".join(_REF_DIRS)
)


def _iter_citations():
    for path in sorted(PKG.rglob("*.py")) + [REPO / "__spark_entry__.py"]:
        text = path.read_text()
        for match in _CITE.finditer(text):
            yield path.relative_to(REPO), match.group(0)


@pytest.mark.skipif(not REFERENCE.exists(), reason="reference tree absent")
def test_all_cited_reference_paths_exist() -> None:
    missing = []
    seen = 0
    for src, cited in _iter_citations():
        seen += 1
        # tests/ is shared between the repo and the reference: accept
        # either resolution.  Every other _REF_DIRS path is
        # reference-only and must exist there.
        if (REFERENCE / cited).exists() or (REPO / cited).exists():
            continue
        missing.append(f"{src}: {cited}")
    assert seen >= 50, f"citation extractor regressed (found only {seen})"
    assert not missing, "fabricated reference citations:\n" + "\n".join(missing)
