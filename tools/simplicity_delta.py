#!/usr/bin/env python3
"""Size of a change to the package, module by module: the figures a
simplicity change reports.

For every package module that differs between ``BASE`` and the working
tree (untracked new modules included), prints:

* package lines added and removed (``git diff --numstat BASE``);
* code-only lines at ``BASE`` and now: lines holding a Python token,
  with docstrings, comments and blank lines left out;
* settable parameters at ``BASE`` and now: the parameters with a
  default of public functions and methods, plus the fields of
  dataclasses.

After the table, one package-wide line gives the code-only lines and
settable parameters summed over every package module, changed or not,
at ``BASE`` and now.

Usage:
    python tools/simplicity_delta.py          # against HEAD
    python tools/simplicity_delta.py BASE     # any git revision
"""

from __future__ import annotations

import ast
import io
import os
import subprocess
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "airflow_pipeline_text_processing_spark"

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout


def _source_at(base: str, rel: str) -> str:
    """``rel``'s text at ``base`` ('' if absent), or in the working tree
    when ``base`` is None ('' if deleted)."""
    if base is None:
        path = os.path.join(REPO, rel)
        return open(path, encoding="utf-8").read() if os.path.exists(path) else ""
    try:
        return _git("show", f"{base}:{rel}")
    except subprocess.CalledProcessError:
        return ""


def _docstring_lines(tree: ast.AST) -> set:
    lines = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(src: str) -> int:
    """Lines holding a Python token, outside docstrings."""
    if not src:
        return 0
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(src)))


def _is_dataclass(cls: ast.ClassDef) -> bool:
    for dec in cls.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        name = target.attr if isinstance(target, ast.Attribute) else getattr(
            target, "id", None
        )
        if name == "dataclass":
            return True
    return False


def settable_params(src: str) -> int:
    """Defaulted parameters of public functions and methods, plus
    dataclass fields."""
    if not src:
        return 0
    n = 0

    def visit(body) -> None:
        nonlocal n
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not node.name.startswith("_"):
                    a = node.args
                    n += len(a.defaults)
                    n += sum(d is not None for d in a.kw_defaults)
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                if _is_dataclass(node):
                    n += sum(isinstance(s, ast.AnnAssign) for s in node.body)
                visit(node.body)

    visit(ast.parse(src).body)
    return n


def changed_modules(base: str) -> list:
    """``(rel path, added, removed)`` for each changed package module."""
    out = []
    for line in _git("diff", "--numstat", base, "--", PKG).splitlines():
        added, removed, rel = line.split("\t")
        if rel.endswith(".py"):
            out.append((rel, int(added), int(removed)))
    for rel in _git(
        "ls-files", "--others", "--exclude-standard", "--", PKG
    ).splitlines():
        if rel.endswith(".py"):
            out.append((rel, len(_source_at(None, rel).splitlines()), 0))
    return sorted(out)


def package_modules(base: str) -> list:
    """Every package module at ``base``, or in the working tree when
    ``base`` is None (untracked new modules included, deleted ones not)."""
    if base is not None:
        names = _git("ls-tree", "-r", "--name-only", base, "--", PKG)
    else:
        names = _git(
            "ls-files", "--cached", "--others", "--exclude-standard", "--", PKG
        )
    return sorted(
        rel for rel in set(names.splitlines())
        if rel.endswith(".py")
        and (base is not None or os.path.exists(os.path.join(REPO, rel)))
    )


def main(argv: list) -> int:
    base = argv[1] if len(argv) > 1 else "HEAD"
    rows = changed_modules(base)
    print(f"package changes against {base}: {len(rows)} modules")
    print(
        f"{'module':<48} {'+lines':>7} {'-lines':>7} "
        f"{'code base':>10} {'code now':>9} {'params base':>12} {'params now':>11}"
    )
    totals = [0] * 6
    for rel, added, removed in rows:
        old, new = _source_at(base, rel), _source_at(None, rel)
        figures = (
            added, removed, code_lines(old), code_lines(new),
            settable_params(old), settable_params(new),
        )
        totals = [t + f for t, f in zip(totals, figures)]
        name = rel[len(PKG) + 1:]
        print(f"{name:<48} {figures[0]:>7} {figures[1]:>7} {figures[2]:>10} "
              f"{figures[3]:>9} {figures[4]:>12} {figures[5]:>11}")
    print(f"{'total':<48} {totals[0]:>7} {totals[1]:>7} {totals[2]:>10} "
          f"{totals[3]:>9} {totals[4]:>12} {totals[5]:>11}")
    package = [
        [f(_source_at(b, rel)) for rel in package_modules(b)]
        for b in (base, None) for f in (code_lines, settable_params)
    ]
    code_base, params_base, code_now, params_now = map(sum, package)
    print(f"{'package-wide, all modules':<48} {'':>7} {'':>7} {code_base:>10} "
          f"{code_now:>9} {params_base:>12} {params_now:>11}")
    print(f"net package lines: {totals[0] - totals[1]:+d}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
