"""Every ``tools/``, ``tests/`` or ``perfbench/`` script cited in the
docs or in the package and test sources must exist in the tree, so a
deleted script cannot stay cited as proof. A bare ``test_*.py`` name
must exist under ``tests/``. Citations of the form
``git show <rev>:<path>`` point into history and are exempt. Starts
no Spark."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_CITED = re.compile(r"(?<![\w/.:-])((?:tools|tests|perfbench)/[\w/.-]*?\.py)\b")
_BARE_TEST = re.compile(r"(?<![\w/.:-])(test_\w+\.py)\b")


def _sources():
    yield ROOT / "README.md"
    yield ROOT / "COVERAGE.md"
    yield from sorted((ROOT / "open_crime_etl_pipeline_spark").rglob("*.py"))
    yield from sorted((ROOT / "tests").rglob("*.py"))


def test_cited_script_paths_exist():
    missing = []
    for src in _sources():
        text = src.read_text(encoding="utf-8")
        cited = [(m, ROOT / m.group(1)) for m in _CITED.finditer(text)]
        cited += [(m, ROOT / "tests" / m.group(1)) for m in _BARE_TEST.finditer(text)]
        for m, path in cited:
            if not path.is_file():
                line = text.count("\n", 0, m.start()) + 1
                missing.append(f"{src.relative_to(ROOT)}:{line}: {m.group(1)}")
    assert not missing, "cited paths missing from the tree:\n" + "\n".join(missing)
