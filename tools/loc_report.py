#!/usr/bin/env python
"""Line counts per library module: raw, docstring, comment, blank, code.

Docstring lines are the lines spanned by the docstring string of the
module and of every class and function, found with ``ast``. Comment lines
are lines whose first non-blank character is ``#``. Code is what remains:
raw - docstring - comment - blank. Paths print relative to the current
directory; a final TOTAL row sums every file.

    python tools/loc_report.py                   # every bloomfilter_spark/*.py
    python tools/loc_report.py path/to/a.py dir  # chosen files / trees
"""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLUMNS = ("raw", "docstring", "comment", "blank", "code")


def docstring_lines(tree: ast.AST) -> set[int]:
    """1-based line numbers covered by module/class/function docstrings."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(path: str) -> dict[str, int]:
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    text = src.splitlines()
    doc = docstring_lines(ast.parse(src, path))
    blank = comment = 0
    for i, line in enumerate(text, 1):
        if i in doc:
            continue
        stripped = line.strip()
        if not stripped:
            blank += 1
        elif stripped.startswith("#"):
            comment += 1
    row = {"raw": len(text), "docstring": len(doc), "comment": comment,
           "blank": blank}
    row["code"] = row["raw"] - row["docstring"] - comment - blank
    return row


def python_files(targets: list[str]) -> list[str]:
    files = []
    for t in targets:
        if os.path.isdir(t):
            for dirpath, dirnames, names in os.walk(t):
                dirnames[:] = sorted(d for d in dirnames
                                     if d != "__pycache__")
                files += [os.path.join(dirpath, n) for n in sorted(names)
                          if n.endswith(".py")]
        else:
            files.append(t)
    return files


def main(argv: list[str]) -> int:
    targets = argv or [os.path.join(REPO, "bloomfilter_spark")]
    rows = [(os.path.relpath(p), count(p))
            for p in python_files(targets)]
    total = {c: sum(r[c] for _, r in rows) for c in COLUMNS}
    width = max([len(name) for name, _ in rows] + [5])
    print(f"{'file':<{width}}" + "".join(f"{c:>10}" for c in COLUMNS))
    for name, r in rows + [("TOTAL", total)]:
        print(f"{name:<{width}}" + "".join(f"{r[c]:>10}" for c in COLUMNS))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
