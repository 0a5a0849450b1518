"""Dead-code guards over the repository's Python.

* Every top-level function and class of the package is used by some code
  -- in the package, the query registry, the tests, the tools or the
  benchmark: a name read, an attribute taken or an import.  A definition
  only prose (a comment, a docstring) mentions is code nothing calls.
* Every defaulted parameter of a public function or method of the package
  is passed by some call: by keyword, or by position.  A parameter no
  call passes is a constant spelled as an option."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "airflow_pipeline_text_processing_spark"

# Parameters kept although no call in the repository passes them.
UNPASSED_ALLOWED = {
    "curate_documents.langs": "passed only through a **kwargs splat "
    "(tests/test_driver_paths.py); the language allowlist of the reference's "
    "curation step",
    "TrackingTable.update_status.error_message": "the tracking table's "
    "error_message column, the reference's documented-but-dropped field",
    "TrackingTable.write_jdbc.table": "deployment setting: the Postgres "
    "relation of the reference's tracking table",
    "streaming_ingest.available_now": "deployment setting: catch-up-then-stop "
    "or the reference's cron cadence",
    "streaming_ingest.processing_time": "deployment setting: the reference's "
    "30-minute cadence",
}


def _python_files() -> list[Path]:
    dirs = (PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench")
    return [p for d in dirs for p in d.rglob("*.py")] + sorted(ROOT.glob("*.py"))


def _names_used(tree) -> set:
    """Names the code of ``tree`` reads, takes as an attribute or imports."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.update(node.name.split("."))
    return used


def test_every_package_definition_is_named_elsewhere():
    trees = {p: ast.parse(p.read_text(encoding="utf-8")) for p in _python_files()}
    used = set().union(*map(_names_used, trees.values()))
    dead = [
        f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path, tree in trees.items()
        if path.is_relative_to(PACKAGE)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.name not in used
    ]
    assert not dead, "defined but used by no code: " + ", ".join(dead)


def _calls_by_name(trees) -> dict:
    """Callee name -> ``(positional count, has *args, keyword names)`` of
    every call to a function or method of that name; a call through an
    ``import f as g`` alias counts as a call to ``f``."""
    aliases = {
        a.asname: a.name
        for tree in trees
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.asname
    }
    calls = defaultdict(list)
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            calls[aliases.get(name, name)].append((
                sum(not isinstance(a, ast.Starred) for a in node.args),
                any(isinstance(a, ast.Starred) for a in node.args),
                {k.arg for k in node.keywords if k.arg},
            ))
    return calls


def _defaulted_params(tree):
    """``(qualified name, def node, position or None, name)`` of every
    defaulted parameter of a public function or public class's method;
    the position skips a method's ``self``/``cls``."""
    def visit(body, prefix, in_class):
        for node in body:
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                yield from visit(node.body, f"{prefix}{node.name}.", True)
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            static = any(
                getattr(d, "id", None) == "staticmethod" for d in node.decorator_list
            )
            skip = 1 if in_class and not static else 0
            positional = a.posonlyargs + a.args
            first = len(positional) - len(a.defaults)
            for i, arg in enumerate(positional[first:], first):
                yield f"{prefix}{node.name}", node, i - skip, arg.arg
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    yield f"{prefix}{node.name}", node, None, arg.arg

    yield from visit(tree.body, "", False)


def test_every_package_parameter_is_passed_somewhere():
    trees = {p: ast.parse(p.read_text(encoding="utf-8")) for p in _python_files()}
    calls = _calls_by_name(list(trees.values()))
    unpassed, seen = [], set()
    for path, tree in trees.items():
        if not path.is_relative_to(PACKAGE):
            continue
        rel = path.relative_to(PACKAGE)
        for qual, fn, pos, name in _defaulted_params(tree):
            key = f"{qual}.{name}"
            seen.add(key)
            passed = any(
                name in kws or (pos is not None and (star or npos > pos))
                for npos, star, kws in calls[fn.name]
            )
            if not passed and key not in UNPASSED_ALLOWED:
                unpassed.append(f"{rel}:{fn.lineno} {key}")
    assert not unpassed, "defaulted but passed by no call: " + ", ".join(unpassed)
    stale = sorted(set(UNPASSED_ALLOWED) - seen)
    assert not stale, "allowlisted but no longer a parameter: " + ", ".join(stale)
