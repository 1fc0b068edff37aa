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


_CITED_NAME = re.compile(r"(?<![\w/.-])([\w/.-]*?\.py)::?([A-Za-z_][\w.]*)")
_PKG = ROOT / "open_crime_etl_pipeline_spark"


def _cited_files(rel: str) -> list[Path]:
    """The files a ``<path>.py`` citation may mean: a path from the
    repo root, the package or ``tests/``, or a path suffix (a bare
    ``pipeline.py``) anywhere in the package."""
    found = [p for p in (ROOT / rel, _PKG / rel, ROOT / "tests" / rel) if p.is_file()]
    return found or sorted(p for p in _PKG.rglob("*.py") if p.as_posix().endswith("/" + rel))


def _defines(path: Path, name: str) -> bool:
    pat = re.compile(rf"^\s*(?:(?:async\s+)?def|class)\s+{name}\b|^\s*{name}\s*[:=]", re.M)
    return bool(pat.search(path.read_text(encoding="utf-8")))


def test_cited_definitions_exist():
    """A ``<path>.py::<name>`` or ``<path>.py:<name>`` citation names a
    file in the tree that defines ``<name>`` (its last dotted part), so
    a renamed or moved function cannot stay cited."""
    stale = []
    for src in _sources():
        text = src.read_text(encoding="utf-8")
        for m in _CITED_NAME.finditer(text):
            rel, name = m.group(1), m.group(2).rstrip(".").rsplit(".", 1)[-1]
            if not any(_defines(p, name) for p in _cited_files(rel)):
                line = text.count("\n", 0, m.start()) + 1
                stale.append(f"{src.relative_to(ROOT)}:{line}: {m.group(0)}")
    assert not stale, "cited definitions missing from the tree:\n" + "\n".join(stale)
