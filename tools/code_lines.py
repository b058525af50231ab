#!/usr/bin/env python3
"""Count code lines per Python file and in total.

A code line is a non-blank line that holds a token other than a
comment and is not part of a docstring (the string that opens a
module, class or function body).

    python3 tools/code_lines.py onnxtr_spark/kernels
    python3 tools/code_lines.py onnxtr_spark tests --total

Arguments are files or directories (searched for ``*.py``); ``--total``
prints only the sum.
"""

from __future__ import annotations

import argparse
import ast
import io
import pathlib
import tokenize

NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.difference_update(range(first.lineno, first.end_lineno + 1))
    return len(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--total", action="store_true", help="print only the total")
    args = ap.parse_args()
    files = []
    for p in map(pathlib.Path, args.paths):
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    total = 0
    for f in files:
        n = code_lines(f.read_text())
        total += n
        if not args.total:
            print(f"{n:7d}  {f}")
    print(total if args.total else f"{total:7d}  total")


if __name__ == "__main__":
    main()
