"""Dead-code guard: every top-level function and class of the package is
named somewhere besides its own definition -- in the package, the query
registry, the tests, the tools or the benchmark.  A name that appears
exactly once in the repository's Python is code nothing calls."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "airflow_pipeline_text_processing_spark"


def _python_files() -> list[Path]:
    dirs = (PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench")
    return [p for d in dirs for p in d.rglob("*.py")] + sorted(ROOT.glob("*.py"))


def test_every_package_definition_is_named_elsewhere():
    sources = {p: p.read_text(encoding="utf-8") for p in _python_files()}
    words = Counter(w for s in sources.values() for w in re.findall(r"\w+", s))
    dead = [
        f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path, src in sources.items()
        if path.is_relative_to(PACKAGE)
        for node in ast.parse(src).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and words[node.name] <= 1
    ]
    assert not dead, "defined but named nowhere else: " + ", ".join(dead)
